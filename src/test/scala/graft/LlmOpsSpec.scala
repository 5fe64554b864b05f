package graft

import org.apache.spark.sql.functions._

import graft.functions.Text
import graft.operators.{Ann, Dedup, Multimodal}
import graft.queries.{DedupQueries, LlmOps, TextQueries}
import graft.sources.Catalog

/** D-block semantics at sf0.001: exactness of the oracled ops is
  * covered by the DuckDB gate; these specs pin the rows-only ops —
  * LSH recall vs the exact baselines, SimHash band soundness, the
  * multimodal decode contract — plus unit-level text functions.
  */
class LlmOpsSpec extends SparkSpec {

  private lazy val cat = Catalog(spark, sfDir)

  test("x23: NfcNormalize composes, is idempotent, and stays in whole-stage codegen") {
    import graft.plans.TextExpressions.nfcNormalize
    import spark.implicits._
    val df = Seq("cafe\u0301", "plain", "a\u200Bb").toDF("s")
    val once = df.select(nfcNormalize(col("s")).as("n"))
      .collect().map(_.getString(0)).toSeq
    // decomposed e+COMBINING ACUTE composes; NFC leaves zero-width
    // chars alone (stripping them is the pipeline's separate regexp)
    assert(once == Seq("caf\u00e9", "plain", "a\u200Bb"))
    val twice = df.select(nfcNormalize(nfcNormalize(col("s"))).as("n"))
      .collect().map(_.getString(0)).toSeq
    assert(twice == once, "NFC must be idempotent")
    // the corpus-scan claim: the expression codegens — over a parquet
    // scan the projection sits inside a WholeStageCodegen span
    val plan = cat.documents
      .select(nfcNormalize(col("text")).as("n"))
      .queryExecution.executedPlan.toString
    // the `*(n)` prefix is the compact-plan WholeStageCodegen marker
    assert(plan.contains("*(1) Project [nfc_normalize"), plan.take(800))
  }

  test("x26: SQ8 codes stay in [0,255] and recon error respects the affine bound") {
    val out = TextQueries.x26.run(spark, sfDir).collect()
    assert(out.nonEmpty)
    assert(out.forall(r => r.getAs[Int]("code_min") >= 0 &&
      r.getAs[Int]("code_max") <= 255))
    // per-component error of round-to-nearest affine SQ8 is ≤
    // span/255/2, so mse ≤ (maxSpan/510)^2 (+ rounding slack)
    val maxSpan = cat.embeddings
      .select(posexplode(graft.functions.Vectors.toDouble(col("embedding"))).as(Seq("i", "x")))
      .groupBy("i").agg((max("x") - min("x")).as("span"))
      .agg(max("span")).collect()(0).getDouble(0)
    val bound = math.pow(maxSpan / 510.0, 2) + 1e-6
    assert(out.forall(_.getAs[Double]("recon_mse") <= bound),
      s"recon_mse exceeds the affine bound $bound")
  }

  test("d14: exactSubstrScrub removes later copies of a shared span, keeps the first owner intact") {
    import spark.implicits._
    val shared = (1 to 10).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, s"alpha beta $shared gamma"),
      (2L, s"delta $shared epsilon zeta"),
      (3L, "nothing shared here at all five six seven eight")
    ).toDF("doc_id", "text")
    val out = Dedup.exactSubstrScrub(docs, w = 8).orderBy("doc_id").collect()
    // doc 1 owns the span (keep-first): nothing removed
    assert(out(0).getAs[Long]("n_removed") == 0L)
    // doc 2: the 8-token windows over the shared 10-token run cover
    // exactly those 10 positions — the flanks survive
    assert(out(1).getAs[Long]("n_removed") == 10L)
    assert(out(2).getAs[Long]("n_removed") == 0L)
    val expect = Seq("delta epsilon zeta").toDF("s")
      .select(md5(col("s").cast("binary"))).collect()(0).getString(0)
    assert(out(1).getAs[String]("clean_hash") == expect,
      "cleaned text must be the uncovered tokens in original order")
  }

  test("d14 fast path: WindowHashes keys reproduce the md5 path row for row, in codegen") {
    val slow = Dedup.exactSubstrScrub(cat.documents, w = 8)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val fast = Dedup.exactSubstrScrubFast(cat.documents, w = 8)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(fast == slow,
      "rolling-hash window keys must yield the identical scrub on the compare corpus")
    // the whole point is staying codegen'd: the window projection
    // must sit inside a WholeStageCodegen span
    val plan = cat.documents
      .select(graft.plans.HashExpressions.windowHashes(
        split(lower(col("text")), " "), 8).as("wh"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project"), plan.take(500))
    // interpreted and generated paths share one arithmetic
    import graft.plans.WindowHashes
    val toks = Array(7L, 11L, 13L, 17L, 19L)
    assert(WindowHashes.roll(toks, 2).length == 4)
    assert(WindowHashes.roll(toks, 5).length == 1)
    assert(WindowHashes.roll(toks, 6).isEmpty)
    val b = 0x9E3779B97F4A7C15L
    assert(WindowHashes.roll(toks, 2)(0) == 7L * b + 11L)
  }

  test("s10: filtered ANN returns only same-label neighbors, and all of brute's when cells allow") {
    import spark.implicits._
    val emb = cat.embeddings
    val out = Ann.ivfFiltered(emb.filter(col("vec_id") < 10), emb, k = 3)
    val labels = emb.select(col("vec_id"), col("label")).as[(Long, Int)]
      .collect().toMap
    val rows = out.select("query_id", "neighbor_id").as[(Long, Long)].collect()
    assert(rows.nonEmpty)
    assert(rows.forall { case (q, n) => labels(q) == labels(n) },
      "every filtered neighbor must carry the query's label (soundness)")
  }

  test("x27: scaled-integer PageRank matches an independent single-node power iteration") {
    val out = TextQueries.x27.run(spark, sfDir).collect()
    val docIds = cat.documents.select("doc_id").collect().map(_.getLong(0))
    val H = 97L
    val rawEdges = docIds.flatMap(d =>
        Seq((d % H, (d * 31 + 7) % H), (d % H, (d * 57 + 13) % H)))
      .filter { case (s, t) => s != t }.distinct
    val v = rawEdges.map(_._1).distinct.toSet
    val edges = rawEdges.filter { case (_, t) => v(t) }
    val outdeg = edges.groupBy(_._1).map { case (k, es) => k -> es.size.toLong }
    val S = 1000000000000L
    var rank: Map[Long, Long] = v.map(_ -> S).toMap
    for (_ <- 1 to 10) {
      val contrib = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      for ((s, t) <- edges) contrib(t) += rank(s) / outdeg(s)
      rank = v.map(h => h -> (15L * S / 100L + 85L * contrib(h) / 100L)).toMap
    }
    val got = out.map(r => r.getAs[Long]("host") -> r.getAs[Long]("pr_scaled")).toMap
    assert(got == rank,
      "distributed iteration must agree with the reference bit-for-bit")
  }

  test("x24: NB classifier generalizes to the held-out half, non-degenerately") {
    val out = TextQueries.x24.run(spark, sfDir)
    val rows = out.collect()
    // scores only the odd (held-out) half — the model never saw these
    assert(rows.nonEmpty && rows.forall(_.getLong(0) % 2 == 1))
    val nOdd = cat.documents.filter(col("doc_id") % 2 === 1).count()
    assert(rows.length.toLong == nOdd, "one prediction per held-out doc")
    val acc = rows.count(_.getBoolean(3)).toDouble / rows.length
    assert(acc >= 0.85, s"held-out accuracy $acc — planted signal not learned")
    // non-degenerate: a majority-class predictor is what the raw
    // synthetic corpus induces (shared vocab across langs); the
    // planted markers must break it
    val preds = rows.map(_.getString(1)).toSet
    assert(preds.size > 1, s"degenerate predictor: always $preds")
  }

  test("x25: nested per-doc encode == Bpe dict-level merge fold, word for word (serve parity)") {
    import spark.implicits._
    val words = Seq("the", "thing", "nation", "rather", "morning",
      "tin", "banana", "final", "er", "a")
    val merges = TextQueries.bpeMerges.zipWithIndex.map {
      case ((a, b), i) => graft.operators.Bpe.Merge(i + 1, a, b, 0L)
    }
    // the x22 machinery's fold over per-word symbol arrays
    val dict = words.toDF("w").select(col("w"),
      concat(split(col("w"), ""),
        array(lit(graft.operators.Bpe.EndOfWord))).as("syms"),
      lit(1L).as("cnt"))
    val hof = graft.operators.Bpe.segmentWords(dict, merges)
      .select(col("w"), col("syms")).collect()
      .map(r => r.getString(0) -> r.getSeq[String](1).toList).toMap
    // x25's literal replace chain over the same words
    val chain = words.toDF("t")
      .select(col("t"), TextQueries.bpeEncodeSubwords(col("t")).as("subs"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1).toList).toMap
    for (w <- words) assert(chain(w) == hof(w), s"word $w")
    // the merge table actually fuses: a canonical full-word merge…
    assert(chain("the") == List("the</w>"))
    // …and a repeated-pair word exercises greedy left-to-right
    // non-overlap (the case that killed the string-replace cut:
    // both (a,n) pairs must merge)
    assert(chain("banana") == List("b", "an", "an", "a", "</w>"))
    // the ENTRY's dict-amortized path (fold per distinct word +
    // join-back) must reproduce the pure-map column form exactly
    val pure = cat.documents
      .select(col("doc_id"),
        md5(array_join(TextQueries.bpeEncodeSubwords(col("text")), " ")
          .cast("binary")).as("fingerprint"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val entry = TextQueries.x25.run(spark, sfDir)
      .select("doc_id", "fingerprint")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(entry == pure, "dict-amortized path diverges from the pure map")
  }

  test("x24/x25 plan pins: model and dict joins broadcast; the corpus side never builds a hash table") {
    // x24: the (doc, bucket) stream joins the (classes x 256)-row
    // model and the class priors — both must be broadcast (the model
    // is bounded by the hash width, never by the corpus)
    val p24 = TextQueries.x24.run(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(p24.contains("BroadcastHashJoin"), p24.take(600))
    assert(!p24.contains("SortMergeJoin"),
      "a corpus-side sort-merge join crept into the NB scoring path")
    // x25: the token stream joins the segmented DISTINCT-word dict —
    // broadcast at any sf where the vocab fits (Heaps-law sized)
    val p25 = TextQueries.x25.run(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(p25.contains("BroadcastHashJoin"), p25.take(600))
  }

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("minhash LSH recovers the exact jaccard>=0.9 pairs (high-similarity recall ~1)") {
    val exact = pairSet(
      Dedup.ngramJaccardPairs(cat.documents, n = 3, threshold = 0.9))
    val lsh = pairSet(Dedup.minhashPairs(cat.documents, n = 3, threshold = 0.9,
      bands = 8))
    assert(exact.nonEmpty, "test corpus should contain planted near-dups")
    val recall = (exact & lsh).size.toDouble / exact.size
    assert(recall >= 0.9, s"minhash recall $recall below 0.9 (found ${lsh.size}, exact ${exact.size})")
    // precision is exact by construction: candidates are re-verified
    assert(lsh.subsetOf(exact))
  }

  test("portable md5 minhash family: sound, high-recall, and jaccard-exact") {
    // the registered d02 family (oracle-gated at the driver); this
    // spec pins the operator-level contract independent of the oracle:
    // candidates verify to EXACT jaccard (subset of the uncapped exact
    // pairs) and planted jaccard>=0.9 dups are recovered
    val exact05 = pairSet(
      Dedup.ngramJaccardPairs(cat.documents, n = 3, threshold = 0.5))
    val exact09 = pairSet(
      Dedup.ngramJaccardPairs(cat.documents, n = 3, threshold = 0.9))
    val port = pairSet(
      Dedup.minhashPairs(cat.documents, n = 3, threshold = 0.5))
    assert(port.subsetOf(exact05),
      "portable family reported a pair whose exact jaccard is below threshold")
    assert(exact09.nonEmpty)
    val recall = (exact09 & port).size.toDouble / exact09.size
    assert(recall >= 0.9,
      s"portable minhash recall $recall on planted >=0.9 dups below 0.9")
  }

  test("portable simhash family: sound (hamming<=3) and overlaps planted near-dups") {
    // the registered d03 family (oracle-gated at the driver); pins the
    // operator contract independent of the oracle
    val sim = Dedup.simhashPairs(cat.documents, n = 3, maxDist = 3)
    val rows = sim.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getInt(2) <= 3))
    val exact = pairSet(
      Dedup.ngramJaccardPairs(cat.documents, n = 3, threshold = 0.9))
    val overlap = (pairSet(sim) & exact).size.toDouble / exact.size
    assert(overlap >= 0.5, s"portable simhash found only $overlap of planted near-dups")
  }

  test("blocked simhash banding reports identical pairs at every dial setting") {
    // the d03_auto contract: re-banding changes WHICH equi-join finds
    // a candidate, never the reported pairs — all pairs within the
    // hamming tolerance, exactly (what lets every dial share d03's
    // DuckDB oracle). b=4 must also BE the registered 4×15 pigeonhole.
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val ref = rows(Dedup.simhashPairs(cat.documents, n = 3, maxDist = 3))
    assert(ref.nonEmpty)
    for (b <- Seq(4, 6, 10)) {
      val got = rows(Dedup.simhashPairs(cat.documents, n = 3,
        maxDist = 3, blocks = Some(b)))
      assert(got == ref, s"blocks=$b diverged: ${(got diff ref) ++ (ref diff got)}")
    }
  }

  test("blocked simhash candidate join is an equi-join at every dial, never a loop") {
    // the scale contract behind d03_auto: re-banding must keep the
    // candidate stage a hash/sort EQUI-join on the folded (ti, kv)
    // key — a dial setting that degenerated to a nested loop or
    // cartesian would be quadratic no matter how wide the keys are
    for (b <- Seq(4, 6)) {
      val plan = Dedup.simhashPairs(cat.documents, n = 3,
        maxDist = 3, blocks = Some(b)).queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct"),
        s"blocks=$b candidate join degenerated:\n$plan")
    }
  }

  test("simhash banding dial widens keys as the corpus grows") {
    // 4 blocks (15-bit keys) holds while 4·n/2^15 <= 1 collision/doc;
    // past ~8k docs the dial steps to 6 blocks (30-bit keys, 20
    // tables), past ~50M to 10 (42-bit keys) — never back down
    assert(Dedup.simhashBlocks(500L) == 4)
    assert(Dedup.simhashBlocks(5000L) == 4)
    assert(Dedup.simhashBlocks(50000L) == 6)
    assert(Dedup.simhashBlocks(10000000L) == 6)
    assert(Dedup.simhashBlocks(1000000000L) == 10)
    assert(Dedup.simhashBlocks(1000000000000L) == 12)
    val dials = Seq(1L, 1000L, 100000L, 10000000L, 1000000000L,
      100000000000L, 10000000000000L).map(Dedup.simhashBlocks(_))
    assert(dials == dials.sorted, s"dial must be monotone in n: $dials")
  }

  test("simhash pairs are sound (hamming<=3) and overlap the planted near-dups") {
    val sim = Dedup.simhashPairs(cat.documents, n = 3, maxDist = 3)
    val rows = sim.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getInt(2) <= 3))
    val exact = pairSet(
      Dedup.ngramJaccardPairs(cat.documents, n = 3, threshold = 0.9))
    val overlap = (pairSet(sim) & exact).size.toDouble / exact.size
    assert(overlap >= 0.5, s"simhash found only $overlap of planted near-dups")
  }

  test("simhash pigeonhole refuses a tolerance its blocks cannot certify") {
    // 4 blocks certify hamming <= 3 only: a pair at hamming 4 with one
    // bit flipped in each block shares no block and would be silently
    // dropped, so maxDist = 4 on 4 blocks is refused
    intercept[IllegalArgumentException] {
      Dedup.simhashPairs(cat.documents, n = 3, maxDist = 4)
    }
    intercept[IllegalArgumentException] {
      Dedup.simhashPairs(cat.documents, n = 3, maxDist = 4, blocks = Some(4))
    }
  }

  test("simhash column is a stable 64-bit fingerprint") {
    val fp = Dedup.simhashFingerprints(cat.documents, 3).orderBy("doc_id")
    val once = fp.collect().map(_.getLong(1)).toSeq
    assert(once.nonEmpty && once == fp.collect().map(_.getLong(1)).toSeq)
  }

  test("LSH ANN: bounded candidates, sane recall vs brute force") {
    val queries = cat.embeddings.filter(col("vec_id") < 20)
    val brute = Ann.brute(queries, cat.embeddings, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val approx = Ann.lsh(queries, cat.embeddings, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(approx.size <= 20 * 5)
    val recall = (brute & approx).size.toDouble / brute.size
    // random gaussian embeddings are the worst case for sign-LSH;
    // the bar asserts "much better than chance", not production recall
    assert(recall >= 0.1, s"LSH recall $recall vs brute")
  }

  test("IVF ANN: probes bound candidates, recall beats coverage floor") {
    val queries = cat.embeddings.filter(col("vec_id") < 20)
    val brute = Ann.brute(queries, cat.embeddings, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val approx = Ann.ivf(queries, cat.embeddings, k = 5,
      nCentroids = 16, nProbe = 4).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(approx.size <= 20 * 5)
    val recall = (brute & approx).size.toDouble / brute.size
    // 4-of-16 probes cover ~25% of a random corpus; recall at or above
    // coverage says the probe ranking isn't hurting (this synthetic
    // corpus is structureless gaussian noise — IVF's worst case)
    assert(recall >= 0.15, s"IVF recall $recall vs brute")
  }

  test("MIPS: full-probe mipsIvf equals brute inner-product top-k (reduction is order-exact)") {
    val queries = cat.embeddings.filter(col("vec_id") < 20)
    val brute = Ann.bruteMips(queries, cat.embeddings, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    // nProbe = nCentroids => no candidate pruning: the ONLY remaining
    // approximation would be the reduction itself, so set equality
    // here pins that [x, sqrt(M^2-|x|^2)] preserves the ip order
    val full = Ann.mipsIvf(queries, cat.embeddings, k = 5,
      nCentroids = 8, nProbe = 8).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(full == brute,
      s"full-probe MIPS-via-cosine diverged: missing ${brute -- full}, extra ${full -- brute}")
    // (on this near-uniform-norm synthetic corpus the MIPS and cosine
    // top-5 sets largely coincide — the ip VALUES, which the DuckDB
    // oracle hash-gates, are what distinguishes the operator)
  }

  test("IVF-PQ ANN: ADC shortlist + exact re-rank tracks plain IVF, bitwise deterministic") {
    val queries = cat.embeddings.filter(col("vec_id") < 20)
    val brute = Ann.brute(queries, cat.embeddings, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    def run() = Ann.ivfpq(queries, cat.embeddings, k = 5,
      nCentroids = 16, nProbe = 4, m = 8, pqK = 16, shortlist = 64)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val pq = run()
    assert(pq.length <= 20 * 5)
    val pqSet = pq.map(r => (r._1, r._3)).toSet
    // same probe as the IVF spec, so the same coverage floor applies;
    // the exact re-rank means PQ error can only lose shortlist-
    // boundary rows, not corrupt scores
    val recall = (brute & pqSet).size.toDouble / brute.size
    assert(recall >= 0.15, s"IVF-PQ recall $recall vs brute")
    // within the probed clusters, the 64-wide shortlist + exact
    // re-rank must agree with plain IVF (same clusters, exact scoring)
    val ivf = Ann.ivf(queries, cat.embeddings, k = 5,
      nCentroids = 16, nProbe = 4).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val agree = (ivf & pqSet).size.toDouble / ivf.size
    assert(agree >= 0.8,
      s"ADC shortlist lost ${(1 - agree) * 100}% of IVF's own top-5")
    // scaled-long codebook sums -> the whole output is run-stable
    assert(run().toSeq == pq.toSeq, "IVF-PQ output must be bitwise deterministic")
  }

  test("IVF ANN: k-means refinement recovers planted clusters from a degenerate seed codebook") {
    // 8 planted clusters of 50 members (anchor + 0.35*deterministic
    // shift of itself, bijective per member index); vec_ids 0..7 are
    // ALL members of cluster 0, so the first-8 seed codebook is the
    // worst case — 8 near-identical directions that slice every
    // cluster arbitrarily. Lloyd iterations must spread the centroids
    // onto the real cluster structure.
    val anchors = cat.embeddings
      .filter(col("vec_id") >= 20 && col("vec_id") < 28)
      .select((col("vec_id") - 20).as("aid"), col("embedding").as("av"))
    val corpus = anchors.crossJoin(spark.range(0, 50).toDF("j"))
      .select(
        when(col("aid") === 0 && col("j") < 8, col("j"))
          .otherwise(lit(100) + col("aid") * 50 + col("j")).as("vec_id"),
        expr("transform(av, (x, i) -> cast(x + 0.35 * av[cast((i * 7 + j * 13) % 64 as int)] as float))")
          .as("embedding"))
      .cache()
    val queries = corpus
      .filter(col("vec_id") >= 100 && col("vec_id") % 50 < 3) // ~3 per cluster
    val brute = Ann.brute(queries, corpus, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    def stats(iters: Int): (Double, Long) = {
      val book = Ann.ivfCodebook(corpus, nCentroids = 8, kmeansIters = iters)
      val maxList = Ann.assigned(corpus, book)
        .groupBy("cluster").count().agg(max("count")).head.getLong(0)
      val approx = Ann.ivf(queries, corpus, k = 5,
        nCentroids = 8, nProbe = 2, kmeansIters = iters).collect()
        .map(r => (r.getLong(0), r.getLong(2))).toSet
      ((brute & approx).size.toDouble / brute.size, maxList)
    }
    val (seedRecall, seedMax) = stats(0)
    val (refined, refinedMax) = stats(2)
    // measured: seed 0.886 recall / max list 110; refined 1.0 / 100
    // (the degenerate partition concentrates >25% of the corpus in one
    // inverted list; refinement rebalances toward the true 50s)
    assert(seedRecall < 0.95, s"seed codebook unexpectedly good: $seedRecall")
    assert(refined >= seedRecall + 0.05 && refined >= 0.95,
      s"refinement did not recover clusters: seed $seedRecall -> refined $refined")
    assert(refinedMax <= seedMax,
      s"refinement skewed the inverted lists: max $seedMax -> $refinedMax")
    corpus.unpersist()
    ()
  }

  test("connected components: transitive closure over chains, isolated pairs, canonical mins") {
    import graft.operators.DupGroups
    // chain 10-11-12-13 plus a bridge 30-13 (min label must travel the
    // full diameter, exercising multiple propagation rounds), and an
    // isolated pair 20-21
    val edges = spark.createDataFrame(Seq(
      (11L, 12L), (12L, 13L), (10L, 11L), (30L, 13L), (20L, 21L)))
      .toDF("id_a", "id_b")
    val comp = DupGroups.connectedComponents(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp == Map(10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L,
      30L -> 10L, 20L -> 20L, 21L -> 20L))
    val groups = DupGroups.groups(edges).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toMap
    assert(groups(13L) == ((10L, 5L, false)))
    assert(groups(10L) == ((10L, 5L, true)))
    assert(groups(21L) == ((20L, 2L, false)))
  }

  test("s13: SQ8 ADC serving recall vs exact MIPS top-k") {
    // the oracle gate pins s13's ADC ranks bit-exactly; this spec pins
    // the claim that matters to a USER of the quantized index — the
    // 1-byte/dim codes still retrieve (almost) the same neighbors as
    // the exact float scan. 64-dim affine SQ8 keeps per-dim error
    // <= span/510, so top-5 agreement should be near-total.
    val queries = cat.embeddings.filter(col("vec_id") < 20)
    val exact = Ann.bruteMips(queries, cat.embeddings, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val adc = Ann.sq8Serve(queries, cat.embeddings, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (exact & adc).size.toDouble / exact.size
    assert(exact.size == 100, s"expected 20 queries x 5, got ${exact.size}")
    assert(recall >= 0.9, s"SQ8 ADC recall $recall vs exact MIPS below 0.9")
  }

  test("s13: serving plan broadcasts the query set; corpus vectors never cross the join") {
    val q = cat.embeddings.filter(col("vec_id") < 20)
    val plan = Ann.sq8Serve(q, cat.embeddings, k = 5)
      .queryExecution.executedPlan.toString
    // the inequality join must be a BroadcastNestedLoopJoin with the
    // QUERY side broadcast — a corpus-side broadcast (or a cartesian)
    // would ship the big side at 100 TB
    assert(plan.contains("BroadcastNestedLoopJoin"), plan.take(600))
    // the corpus leg of the join carries codes only: the double
    // vector `v` is consumed by the code projection BELOW the join,
    // so no join-side projection references it
    val joinDown = plan.substring(plan.indexOf("BroadcastNestedLoopJoin"))
    assert(!joinDown.substring(0, math.min(400, joinDown.length))
        .contains("AS v#"),
      "corpus doubles must not survive past the code projection")
  }

  test("mm05: audio fingerprint is gain- and dither-invariant; flips move exactly their bits") {
    import spark.implicits._
    // same logical clip, three renditions: base gain/dither, +10%
    // gain with fresh dither, and a 2-frame flip — the fingerprint
    // must be identical across the first two and differ in exactly
    // the flipped bits on the third
    val media = Seq(
      (1L, "audio/wav", Multimodal.syntheticWavDup(1L, 5L, Set.empty[Int], 12000)),
      (2L, "audio/wav", Multimodal.syntheticWavDup(777L, 5L, Set.empty[Int], 13200)),
      (3L, "audio/wav", Multimodal.syntheticWavDup(888L, 5L, Set(3, 40), 12000)))
      .toDF("media_id", "media_type", "payload")
    val fp = Multimodal.audioFingerprint(media).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp(1L) == fp(2L),
      "gain/dither change must not move the fingerprint")
    assert((fp(1L) ^ fp(3L)) == ((1L << 3) | (1L << 40)),
      "frame flips must move exactly their fingerprint bits")
  }

  test("nearDupLsh: recall 1.0 vs exact all-pairs on planted near-dups at cosine >= 0.9") {
    // plant near-dups: each base vector gets a copy perturbed by a
    // small deterministic rotation of itself — cosine ~0.9988, firmly
    // in the >= 0.9 regime the operator's recall contract targets
    val base = cat.embeddings.filter(col("vec_id") < 50)
      .select("vec_id", "embedding")
    val shifted = base.select((col("vec_id") + 10000L).as("vec_id"),
      expr("transform(embedding, (x, i) -> cast(x + 0.05f * embedding[(i + 1) % 64] as float))")
        .as("embedding"))
    val corpus = base.unionByName(shifted)
    val exact = pairSet(Ann.nearDupPairs(corpus, threshold = 0.9))
    val lsh = pairSet(Ann.nearDupLsh(corpus, threshold = 0.9))
    assert(exact.size >= 50, s"should contain the 50 planted pairs, got ${exact.size}")
    assert((exact -- lsh).isEmpty,
      s"LSH missed ${(exact -- lsh).size} of ${exact.size} exact pairs (recall must be 1.0 here)")
    // precision is exact by construction: candidates are re-verified
    assert(lsh.subsetOf(exact))
  }

  test("semDedup: planted near-dups co-cluster and are found exactly, pairs are sound") {
    // same planted construction as the nearDupLsh spec: cosine ~0.9988
    // copies — SemDeDup's contract is that pairs THIS similar land in
    // the same k-means cell with overwhelming probability
    val base = cat.embeddings.filter(col("vec_id") < 50)
      .select("vec_id", "embedding")
    val shifted = base.select((col("vec_id") + 10000L).as("vec_id"),
      expr("transform(embedding, (x, i) -> cast(x + 0.05f * embedding[(i + 1) % 64] as float))")
        .as("embedding"))
    val corpus = base.unionByName(shifted)
    val exact = pairSet(Ann.nearDupPairs(corpus, threshold = 0.9))
    val sem = pairSet(Ann.semDedup(corpus, threshold = 0.9))
    assert(exact.size >= 50)
    val recall = (exact & sem).size.toDouble / exact.size
    assert(recall >= 0.9,
      s"semDedup found ${(exact & sem).size} of ${exact.size} planted pairs")
    // soundness: only-within-cluster candidates, but every REPORTED
    // pair carries an exact score — so sem ⊆ exact always
    assert(sem.subsetOf(exact))
  }

  test("semDedupAuto: adaptive k keeps candidate volume ~linear where fixed k goes quadratic") {
    // recall contract first, on the planted-dup corpus (DataFrame-
    // native codebook path must find what the literal-codebook path
    // finds)
    val base = cat.embeddings.filter(col("vec_id") < 50)
      .select("vec_id", "embedding")
    val shifted = base.select((col("vec_id") + 10000L).as("vec_id"),
      expr("transform(embedding, (x, i) -> cast(x + 0.05f * embedding[(i + 1) % 64] as float))")
        .as("embedding"))
    val planted = base.unionByName(shifted)
    val exact = pairSet(Ann.nearDupPairs(planted, threshold = 0.9))
    val sem = pairSet(Ann.semDedupAuto(planted, threshold = 0.9, occupancy = 32))
    assert((exact & sem).size.toDouble / exact.size >= 0.9,
      s"auto path found ${(exact & sem).size} of ${exact.size} planted pairs")
    assert(sem.subsetOf(exact))

    // the scale dial: 1x vs 10x (circular-shift construction, as in
    // the adaptive-bits spec). Candidate volume = Σ n(n-1) over the
    // occupancy histogram.
    val one = cat.embeddings.select("vec_id", "embedding").cache()
    val n1 = one.count()
    val ten = (0 until 10).map { i =>
      one.select((col("vec_id") + i * 100000L).as("vec_id"),
        expr(s"transform(embedding, (x, j) -> embedding[cast((j + $i) % 64 as int)])")
          .as("embedding"))
    }.reduce(_ unionByName _).cache()
    def vol(emb: org.apache.spark.sql.DataFrame, k: Long): Long =
      Ann.clusterSizes(emb, k)
        .agg(sum(col("n") * (col("n") - 1)).as("v")).head.getLong(0)
    val v1 = vol(one, math.max(16L, n1 / 32))
    val v10auto = vol(ten, math.max(16L, 10 * n1 / 32))
    assert(v10auto <= 20 * v1,
      s"adaptive-k candidate growth super-linear: $v1 -> $v10auto")
    // the same 10x corpus under the 1x corpus's FIXED k accrues
    // clearly super-linear volume — the dial semDedupAuto exists for
    val v10fixed = vol(ten, math.max(16L, n1 / 32))
    assert(v10fixed > 3 * v10auto,
      s"fixed-k volume $v10fixed should far exceed adaptive $v10auto")
  }

  test("knnGraphAuto: planted nearest neighbors found, top-k bounded, single-probe subset of graph semantics") {
    // same planted construction as the semDedupAuto spec: each base
    // vector's 0.05-perturbed copy is its overwhelming top-1 neighbor
    val base = cat.embeddings.filter(col("vec_id") < 50)
      .select("vec_id", "embedding")
    val shifted = base.select((col("vec_id") + 10000L).as("vec_id"),
      expr("transform(embedding, (x, i) -> cast(x + 0.05f * embedding[(i + 1) % 64] as float))")
        .as("embedding"))
    val planted = base.unionByName(shifted)
    val g = Ann.knnGraphAuto(planted, k = 3, occupancy = 32).collect()
    assert(g.length <= 100 * 3)
    assert(g.forall(_.getInt(1) <= 3))
    val edges = g.map(r => (r.getLong(0), r.getLong(2))).toSet
    // near-identical pairs co-cluster, so the single-probe graph must
    // recover (v -> v+10000) for most planted vectors
    val found = (0L until 50L).count(v => edges.contains((v, v + 10000L)))
    assert(found >= 40, s"auto graph found only $found/50 planted neighbors")
    // candidate-volume linearity under k ∝ n is pinned by the
    // semDedupAuto spec on the same clusterSizes machinery
  }

  test("routed assignment (k > RouteThreshold): total, deterministic, near-dup recall survives routing") {
    // 1000 vectors at occupancy 2 force k = 500 > RouteThreshold, so
    // the WHOLE auto path — Lloyd training and the final assignment —
    // runs two-level routed: no stage ever scores all k centroids
    val base = cat.embeddings.select("vec_id", "embedding")
    val shifted = base.select((col("vec_id") + 10000L).as("vec_id"),
      expr("transform(embedding, (x, i) -> cast(x + 0.05f * embedding[(i + 1) % 64] as float))")
        .as("embedding"))
    val planted = base.unionByName(shifted).localCheckpoint(true)
    val nRows = planted.count()
    val k = nRows / 2
    assert(k > Ann.RouteThreshold, "fixture must exercise the routed path")

    // totality: routing must assign EVERY vector exactly once (live-
    // cell filtering is what guarantees no vector probes an empty cell)
    val cents = Ann.kmeansDf(planted, k)
    val a = Ann.assignViaJoin(Ann.normed(planted), cents, k)
    assert(a.count() == nRows)
    assert(a.select("vec_id").distinct().count() == nRows)

    // determinism: routed assignment is a pure function of the input
    val again = Ann.assignViaJoin(Ann.normed(planted), Ann.kmeansDf(planted, k), k)
    val pairs = (df: org.apache.spark.sql.DataFrame) =>
      df.select("vec_id", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs(a) == pairs(again))

    // recall: near-identical vectors route identically (routing is a
    // deterministic function of the vector), so planted pairs still
    // co-cluster and SemDeDup recall survives the approximation
    val exact = pairSet(Ann.nearDupPairs(planted, threshold = 0.9))
    val sem = pairSet(Ann.semDedupAuto(planted, threshold = 0.9, occupancy = 2))
    assert(exact.size >= 400, s"expected ~500 planted pairs, got ${exact.size}")
    val recall = (exact & sem).size.toDouble / exact.size
    assert(recall >= 0.9, s"routed semDedupAuto recall $recall")
    assert(sem.subsetOf(exact))
  }

  test("routed assignment: candidate volume is O(n·√k), plan equi-joins the centroid frame") {
    val base = cat.embeddings.select("vec_id", "embedding")
    val shifted = base.select((col("vec_id") + 10000L).as("vec_id"),
      expr("transform(embedding, (x, i) -> cast(x + 0.03f * embedding[(i + 2) % 64] as float))")
        .as("embedding"))
    val planted = base.unionByName(shifted).localCheckpoint(true)
    val nRows = planted.count()
    val k = nRows / 2
    val n = Ann.normed(planted)
    val cents = Ann.kmeansDf(planted, k)
    // the quantity routing exists to bound: rows reaching the scoring
    // stage. Direct scores n·k; routed ≈ n·nProbe·k/kc = O(n·√k).
    val (vCell, centCell) = Ann.routedSides(n, cents, k, nProbe = 2)
    val vol = Ann.routedScored(vCell, centCell).count()
    assert(vol >= nRows, "every vector needs at least one candidate")
    assert(vol < nRows * k / 3,
      s"routed volume $vol not meaningfully below direct ${nRows * k}")
    // plan pin: the k-row centroid frame reaches scoring through an
    // equi-join on the routed cell key — the one nested-loop join
    // left is the bounded ~√k-cell probe (its build side shrinks as
    // √k of the centroid count, never ∝ k, never ∝ n)
    val plan = Ann.assignViaJoin(n, cents, k).queryExecution.executedPlan.toString
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(plan).size
    assert(bnlj <= 1, s"routed plan has $bnlj nested-loop joins:\n$plan")
    assert("(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin).*\\[cell#".r
      .findFirstIn(plan.replaceAll("\n", " ")).isDefined ||
      plan.linesIterator.exists(l => l.contains("Join") && l.contains("cell#")),
      s"no cell equi-join found in routed plan:\n$plan")
  }

  test("kmeans seed rank: two-phase prefix sum matches global order, no unpartitioned window") {
    // lowestKByRank must reproduce exactly "the k lowest vec_ids,
    // ranked 0..k-1" — on a shard whose ids neither start at 0 nor
    // arrive ordered
    val skewed = cat.embeddings.select((col("vec_id") * 7L + 3L).as("vec_id"), col("embedding"))
    val n = Ann.normed(skewed)
    val got = Ann.lowestKByRank(n, 25).select("vec_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._2)
    val want = skewed.select("vec_id").collect().map(_.getLong(0)).sorted.take(25)
    assert(got.map(_._1).toSeq == want.toSeq)
    assert(got.map(_._2).toSeq == (0L until 25L))
    // and the seed path itself must not contain an unpartitioned
    // window or a global limit (both funnel k ∝ n rows into one task)
    val plan = Ann.lowestKByRank(n, 25).queryExecution.executedPlan.toString
    assert(!plan.contains("GlobalLimit"), s"global limit in seed plan:\n$plan")
    // the only window must be the pid-partitioned local rank
    assert(plan.contains("windowspecdefinition(pid"),
      s"rank window is not partitioned by pid:\n$plan")
  }

  test("adaptiveBits: occupancy-preserving widths, floor respected") {
    assert(Ann.adaptiveBits(1) == 6 && Ann.adaptiveBits(500) == 6)
    assert(Ann.adaptiveBits(5000) == 9)      // ceil(log2 5000)=13
    assert(Ann.adaptiveBits(1L << 20) == 16) // 2^16 buckets ~ n/16
    assert(Ann.adaptiveBits(3000, floor = 8) == 8)
  }

  test("d05 auto oracle pin: compare-scale corpus count and derived bits hold") {
    // d05_embedding_neardup_auto's oracle hardcodes the SRP width
    // derived from the PINNED sf0.01 corpus count while the registered
    // plan derives it from a runtime count() — they agree only while
    // the pin matches the data, so a regenerated test corpus fails
    // HERE, not as an opaque driver hash mismatch
    assert(Catalog(spark, "/root/testdata/sf0.01").embeddings.count() ==
      DedupQueries.oracleEmbCount)
    assert(Ann.adaptiveBits(DedupQueries.oracleEmbCount) == 6)
    // and at bench scale the same dial genuinely widens (sf0.1 n=2000),
    // so the auto entry exercises a different hash family than fixed d05
    assert(Ann.adaptiveBits(2000L) == 7)
  }

  test("adaptive LSH bits keep candidate volume ~linear where fixed bits go quadratic") {
    // 10x corpus from 10 key-shifted copies, embedding circular-shifted
    // per copy (exact within-copy cosines, cross-copy ~orthogonal) —
    // the same construction as Bench.stageScaled
    val one = cat.embeddings.select("vec_id", "embedding").cache()
    val n1 = one.count()
    val ten = (0 until 10).map { i =>
      one.select((col("vec_id") + i * 100000L).as("vec_id"),
        expr(s"transform(embedding, (x, j) -> embedding[cast((j + $i) % 64 as int)])")
          .as("embedding"))
    }.reduce(_ unionByName _).cache()
    assert(ten.count() == 10 * n1)

    val c1 = Ann.lshCandidateCount(one)
    val c10 = Ann.lshCandidateCount(ten)
    // adaptive: 10x rows -> ~10x candidates (occupancy held constant;
    // slack for bucket-size variance)
    assert(c10 <= 20 * c1,
      s"adaptive candidate growth super-linear: $c1 -> $c10")

    // the contrast the dial exists for: the same 10x corpus under the
    // 1x corpus's FIXED bit-width accrues clearly super-linear volume
    val nrm10 = ten.select(col("vec_id"),
      graft.functions.Vectors.toDouble(col("embedding")).as("v"))
      .withColumn("nrm", graft.functions.Vectors.norm(col("v")))
    val cFixed = Ann.lshCandidatePairs(nrm10,
      tables = 8, bits = Ann.adaptiveBits(n1), dim = 64, seed = 7L).count()
    assert(cFixed > 3 * c10,
      s"fixed-bits volume $cFixed should far exceed adaptive $c10")
  }

  test("nearDupLshAuto: recall 1.0 on planted near-dups with derived bits") {
    val base = cat.embeddings.filter(col("vec_id") < 50)
      .select("vec_id", "embedding")
    val shifted = base.select((col("vec_id") + 10000L).as("vec_id"),
      expr("transform(embedding, (x, i) -> cast(x + 0.05f * embedding[(i + 1) % 64] as float))")
        .as("embedding"))
    val corpus = base.unionByName(shifted)
    val exact = pairSet(Ann.nearDupPairs(corpus, threshold = 0.9))
    val auto = pairSet(Ann.nearDupLshAuto(corpus, threshold = 0.9))
    assert((exact -- auto).isEmpty && auto.subsetOf(exact),
      s"auto-bits LSH must keep the >=0.9-regime recall contract " +
        s"(missed ${(exact -- auto).size} of ${exact.size})")
  }

  test("x11 sketches track exact profiles: HLL within rsd, quantiles within rank tolerance") {
    val got = TextQueries.x11.run(spark, sfDir).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2).toDouble, r.getLong(3).toDouble,
          r.getLong(4))).toMap
    val toks = cat.documents.select(col("source"), col("n_chars"),
      explode(split(lower(col("text")), " ")).as("tok"))
    val exact = toks.groupBy("source")
      .agg(countDistinct(col("tok")).as("vocab"),
        expr("percentile(n_chars, array(0.5, 0.9))").as("ps"),
        count(lit(1)).as("n"))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1),
        r.getSeq[Double](2)(0), r.getSeq[Double](2)(1), r.getLong(3))).toMap
    assert(got.keySet == exact.keySet)
    for ((src, (aVocab, p50, p90, n)) <- got) {
      val (eVocab, e50, e90, eN) = exact(src)
      assert(n == eN, s"$src token count must be exact")
      val err = math.abs(aVocab - eVocab).toDouble / eVocab
      assert(err <= 0.10, s"$src HLL estimate $aVocab vs exact $eVocab (err $err)")
      // GK sketch guarantees rank error <= 1/accuracy; with accuracy
      // 1000 on a ~25-doc group the estimate must be an actual group
      // value between the exact p25 and p75 / p75 and p99 bounds —
      // assert loosely via value windows around the exact quantiles
      assert(p50 >= e50 * 0.5 && p50 <= e50 * 1.5, s"$src p50 $p50 vs $e50")
      assert(p90 >= e50 && p90 <= e90 * 1.5, s"$src p90 $p90 vs $e90")
    }
  }

  test("d04 capped regime: a hot shingle above maxDf leaves intersections AND set sizes") {
    import spark.implicits._
    // 'h h h' appears in all 5 docs (DF=5); with maxDf=4 it must be
    // dropped from the index — from the intersection counts and from
    // the per-doc set sizes, so jaccard is exact over non-stop sets
    val docs = Seq(
      (1L, "h h h h a b c d e"),
      (2L, "h h h h a b c d f"),
      (3L, "h h h h p q r"),
      (4L, "h h h h s t u"),
      (5L, "h h h h v w x")).toDF("doc_id", "text")
    // uncapped: docs 1,2 share {hhh,hha,hab,abc,bcd} of 6+6 -> 5/7
    val uncapped = Dedup.ngramJaccardPairs(docs, n = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(uncapped.toSeq == Seq((1L, 2L, 0.714286)))
    // capped: hhh gone -> {hha,hab,abc,bcd} of 5+5 -> 4/6
    val capped = Dedup.ngramJaccardPairs(docs, n = 3, threshold = 0.5, maxDf = 4L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(capped.toSeq == Seq((1L, 2L, 0.666667)))
  }

  test("d09 planted spans: run length is measured exactly, sub-minSpan overlap excluded") {
    import spark.implicits._
    def words(prefix: String, n: Int): Seq[String] =
      (1 to n).map(i => s"$prefix$i")
    val a = words("a", 30)
    // doc 2 embeds a1..a20 of doc 1 -> longest shared span 20 tokens,
    // windows starting at a1..a13 = one run of 13
    val doc2 = words("b", 10) ++ a.take(20) ++ words("c", 10)
    // doc 3 shares EXACTLY one 8-token window (a1..a8): span 8 < 12
    val doc3 = words("d", 5) ++ a.take(8) ++ words("e", 5)
    val docs = Seq(
      (1L, a.mkString(" ")),
      (2L, doc2.mkString(" ")),
      (3L, doc3.mkString(" "))).toDF("doc_id", "text")
    val out = Dedup.spanPairs(docs, w = 8, minSpan = 12)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq((1L, 2L, 13L, 20L)),
      s"expected the single (1,2) pair with a 13-window run = 20-token span, got ${out.toSeq}")
    // at minSpan=8 the one-window (1,3) and (2,3) overlaps appear too
    val loose = Dedup.spanPairs(docs, w = 8, minSpan = 8)
    assert(pairSet(loose) == Set((1L, 2L), (1L, 3L), (2L, 3L)))

    // PERIODIC text must not over-certify: doc A = 20 identical tokens
    // (13 identical windows), doc B = exactly 8 — the true shared
    // contiguous span is 8 tokens, not 20. Every A-position matches
    // B's one window but on 13 DIFFERENT diagonals, so each diagonal
    // run has length 1 and the reported span stays 8.
    val periodic = Seq(
      (1L, List.fill(20)("r").mkString(" ")),
      (2L, List.fill(8)("r").mkString(" "))).toDF("doc_id", "text")
    assert(Dedup.spanPairs(periodic, w = 8, minSpan = 12).count() == 0,
      "periodic text must not certify a span longer than the real overlap")
    val p8 = Dedup.spanPairs(periodic, w = 8, minSpan = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    assert(p8.toSeq == Seq((1L, 2L, 8L)))
    // maxRep drops degenerate within-doc repeats before the pairing
    assert(Dedup.spanPairs(periodic, w = 8, minSpan = 8, maxRep = 5).count() == 0)
  }

  test("packing: two-phase prefix sum == naive global cumsum, invariant to partition count") {
    import graft.operators.Packing
    val naive = cat.documents
      .select(col("doc_id"), size(split(lower(col("text")), " ")).as("n_tok"))
      .withColumn("start",
        coalesce(sum("n_tok").over(
          org.apache.spark.sql.expressions.Window.orderBy("doc_id")
            .rowsBetween(Long.MinValue, -1)), lit(0L)))
      .select("doc_id", "start").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val scanned = Packing.offsets(cat.documents, numParts = 7)
      .select("doc_id", "start").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(scanned == naive, "distributed scan must equal the sequential prefix sum")
    // output invariant to the parallelism knob
    val a = Packing.pack(cat.documents, seqLen = 512, numParts = 4).collect().toSeq
    val b = Packing.pack(cat.documents, seqLen = 512, numParts = 32).collect().toSeq
    assert(a == b)
    // every sequence is fully covered: doc spans tile the token space
    assert(a.nonEmpty && a.map(_.getLong(0)) == (0L until a.size).toSeq)
  }

  test("d04 oracle invariant: max shingle DF at oracle scales stays far below the 1000 cap") {
    // the registered d04 runs maxDf=1000 while its DuckDB oracle is
    // uncapped — results agree only while no shingle's DF exceeds the
    // cap, so pin that invariant at both driver compare scales
    for (dir <- Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")) {
      val docs = Catalog(spark, dir).documents
      val sh = docs
        .select(col("doc_id"), explode(array(Text.tokens(col("text")))).as("toks"))
        .select(col("doc_id"),
          explode(array_distinct(Text.shingles(col("toks"), 3))).as("shingle"))
      val maxDf = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
        .agg(max("df")).head.getLong(0)
      assert(maxDf <= 1000L, s"$dir: max shingle DF $maxDf exceeds the d04 cap — oracle would diverge")
    }
  }

  test("x31 fuzzy decontamination: a lightly-edited eval doc is flagged at its exact jaccard; unrelated docs are not; output is strictly bipartite") {
    import spark.implicits._
    val evalDoc = (1 to 40).map(i => s"w$i").mkString(" ")
    // one substituted word — the paraphrase-shaped leak x13's exact
    // 4-gram counter still sees, but whose SEVERITY (the jaccard)
    // only the fuzzy form reports
    val nearDup = (1 to 40).map(i => s"w$i").updated(20, "edited").mkString(" ")
    val unrelated = (1 to 40).map(i => s"z$i").mkString(" ")
    val docs = Seq((5L, evalDoc), (100L, nearDup), (101L, unrelated),
      (102L, evalDoc)).toDF("doc_id", "text")
    val got = graft.operators.Dedup.fuzzyContamination(
        docs.filter(col("doc_id") >= 20), docs.filter(col("doc_id") < 20),
        n = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // the verbatim copy and the edit are flagged; the unrelated doc is
    // not; nothing corpus-side pairs with anything corpus-side
    assert(got.map(t => (t._1, t._2)).toSet == Set((100L, 5L), (102L, 5L)),
      s"wrong contamination set: ${got.toSeq}")
    assert(got.find(_._1 == 102L).get._3 == 1.0)
    // one edited word kills exactly 3 of 38 trigram shingles:
    // j = 35 / (38 + 38 - 35)
    val j = got.find(_._1 == 100L).get._3
    assert(math.abs(j - 35.0 / 41.0) < 1e-6, s"jaccard $j != 35/41")
  }

  test("d04 occupancy dial: cap derives from corpus stats; non-binding == fixed form, binding drops boilerplate pairs but keeps true dups") {
    import spark.implicits._
    // non-binding regime (the registered d04_auto): derived cap
    // ≫ max DF, so the auto form equals the fixed form exactly
    val fixed = Dedup.ngramJaccardPairs(cat.documents, n = 3,
        threshold = 0.5, maxDf = 1000L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val auto = Dedup.ngramJaccardPairsAuto(cat.documents, n = 3,
        threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(auto == fixed, "non-binding cap must reproduce the fixed form")

    // binding regime: 80 docs share an 18-word boilerplate prefix
    // (16 trigrams at DF=80 — the Zipf head) + unique 2-word tails;
    // 1000/1001 are TRUE duplicates. Uncapped, boilerplate alone
    // makes every prefix pair a 0.8-Jaccard "duplicate"; the derived
    // cap (budget 1024 / s̄≈17 → floor 64 < 80) excises the head, so
    // only the true duplicate family survives.
    val boiler = "terms of service apply to all users of this site " +
      "and are subject to change without prior notice today"
    val docs = (0 until 80).map(i =>
        (i.toLong, s"$boiler unique$i tail$i")) ++
      Seq((1000L, "zeta eta theta iota kappa lambda mu nu xi"),
        (1001L, "zeta eta theta iota kappa lambda mu nu xi"))
    val df = docs.toDF("doc_id", "text")
    assert(Dedup.jaccardDfCapAuto(df, n = 3, budget = 1024L) == 64L)
    val uncapped = Dedup.ngramJaccardPairs(df, n = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped.size > 1000 && uncapped((1000L, 1001L)),
      s"plant broken: expected C(80,2)+1 uncapped pairs, got ${uncapped.size}")
    val capped = Dedup.ngramJaccardPairsAuto(df, n = 3, threshold = 0.5,
        budget = 1024L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((1000L, 1001L)),
      s"binding cap must keep only the true-dup pair: $capped")
  }

  test("d09 oracle invariant: within-doc window repetition stays far below the 100 cap") {
    // the registered d09 runs maxRep=100 while its DuckDB oracle is
    // uncapped — results agree only while no window repeats 100×
    // inside one document, so pin that at both driver compare scales
    for (dir <- Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")) {
      val docs = Catalog(spark, dir).documents
      val wins = docs
        .select(col("doc_id"), explode(array(Text.tokens(col("text")))).as("t"))
        .filter(size(col("t")) >= 8)
        .select(col("doc_id"),
          explode(transform(sequence(lit(1), size(col("t")) - 7),
            i => xxhash64(concat_ws(" ", slice(col("t"), i, lit(8)))))).as("h"))
      val maxRep = wins.groupBy("doc_id", "h").agg(count(lit(1)).as("rep"))
        .agg(max("rep")).head.getLong(0)
      assert(maxRep <= 100L, s"$dir: max within-doc window rep $maxRep exceeds the d09 cap — oracle would diverge")
    }
  }

  test("d09 oracle invariant: cross-doc window DF stays far below the 1000 cap") {
    // the registered d09 also carries maxDf=1000 (the hot-window stop
    // list) while the oracle is uncapped — a boilerplate window shared
    // by >1000 docs would silently drop its pairs from the registered
    // plan only. Measured on the UNFILTERED distinct (doc, window) set,
    // a superset of what the registered plan indexes, so conservative.
    for (dir <- Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")) {
      val docs = Catalog(spark, dir).documents
      val wins = docs
        .select(col("doc_id"), explode(array(Text.tokens(col("text")))).as("t"))
        .filter(size(col("t")) >= 8)
        .select(col("doc_id"),
          explode(transform(sequence(lit(1), size(col("t")) - 7),
            i => xxhash64(concat_ws(" ", slice(col("t"), i, lit(8)))))).as("h"))
      val maxDf = wins.select("doc_id", "h").distinct()
        .groupBy("h").agg(count(lit(1)).as("df"))
        .agg(max("df")).head.getLong(0)
      assert(maxDf <= 1000L, s"$dir: max cross-doc window DF $maxDf exceeds the d09 cap — oracle would diverge")
    }
  }

  test("multimodal frame sampling: stride/count invariants, deterministic checksums") {
    import graft.operators.Multimodal
    val media = Multimodal.asMedia(cat.documents)
    val frames = Multimodal.frameSample(media, stride = 4)
    val byMedia = frames.groupBy("media_id")
      .agg(count(lit(1)).as("n_sampled"), max("frame_idx").as("max_idx"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2))).toMap
    val decoded = Multimodal.decode(media)
      .select(col("media_id"), size(col("frame_offsets")).as("n_frames"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(byMedia.keySet == decoded.keySet)
    for ((id, n) <- decoded) {
      val (sampled, maxIdx) = byMedia(id)
      assert(sampled == (n + 3) / 4, s"media $id: $n frames -> $sampled sampled")
      assert(maxIdx % 4 == 0 && maxIdx < n)
    }
    // stub checksums are a pure function of the payload: two runs agree
    val once = frames.orderBy("media_id", "frame_idx").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(4))).toSeq
    val again = Multimodal.frameSample(media, stride = 4)
      .orderBy("media_id", "frame_idx").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(4))).toSeq
    assert(once.nonEmpty && once == again)
  }

  test("multimodal real decode: javax.imageio dims + pixel checksums match a driver-side oracle") {
    val media = Multimodal.pngMedia(spark, 24)
    val out = Multimodal.decodeImage(media).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out.size == 24)
    for (id <- 0L until 24L) {
      val r = out(id)
      // the codec must recover the generator's exact geometry
      assert(r.getInt(4) == 16 + (id % 8).toInt * 4, s"width of $id")
      assert(r.getInt(5) == 12 + (id % 5).toInt * 4, s"height of $id")
      // scanline frame offsets: one per decoded row, width*4 apart
      val offs = r.getSeq[Long](6)
      assert(offs.length == r.getInt(5))
      assert(offs.take(2).toSeq == Seq(0L, r.getInt(4).toLong * 4))
    }
    // pixel checksums are exact: the executor-side decode must agree
    // with an independent driver-side decode of the same payload
    // (PNG is lossless — pixels, unlike encoded bytes, are stable)
    for (id <- Seq(0L, 7L, 23L)) {
      val expected = Multimodal.pixelChecksum(javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(Multimodal.syntheticPng(id))))
      assert(out(id).getLong(3) == expected, s"checksum of $id")
    }
    // and deterministic across runs
    val again = Multimodal.decodeImage(media).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(out.map { case (k, r) => k -> r.getLong(3) } == again)
  }

  test("content-defined chunking: head insertion re-aligns where fixed-width shifts everything") {
    // 200 deterministic pseudo-random tokens; B = A with one token
    // inserted at the head (the classic edited-near-dup)
    val toksA = (1 to 200).map(i => "w" + (i * 7919 % 997))
    val textA = toksA.mkString(" ")
    val docs = spark.createDataFrame(Seq(
      (1L, textA), (2L, "inserted " + textA))).toDF("doc_id", "text")
    val chunks = Dedup.cdcChunks(docs).collect()
    val byDoc = chunks.groupBy(_.getLong(0))
    def hashes(id: Long) = byDoc(id).map(_.getString(4)).toSet
    val shared = (hashes(1L) & hashes(2L)).size.toDouble / hashes(2L).size
    assert(shared >= 0.7,
      s"CDC chunks shared only ${"%.2f".format(shared)} after a head insertion")
    // fixed-width chunking (d07's 8-token segments) on the same edit:
    // every boundary shifts by one token, so almost nothing is shared
    def fixed(toks: Seq[String]) = toks.grouped(8).map(_.mkString(" ")).toSet
    val fixedShared = (fixed(toksA) & fixed("inserted" +: toksA)).size.toDouble /
      fixed("inserted" +: toksA).size
    assert(fixedShared <= 0.2,
      s"fixed-width unexpectedly robust ($fixedShared) — test corpus degenerate?")
    // lossless: chunks concatenated in order rebuild the document
    val rebuilt = byDoc(1L).sortBy(_.getLong(1)).map(_.getString(5)).mkString(" ")
    assert(rebuilt == textA, "chunk concatenation must rebuild the doc")
    // chunk ids are dense from 0 and start positions strictly increase
    val ids = byDoc(1L).map(_.getLong(1)).sorted
    assert(ids.toSeq == (0L until ids.length.toLong).toSeq)
    // deterministic across runs
    val again = Dedup.cdcChunks(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(4))).toSet
    assert(again == chunks.map(r => (r.getLong(0), r.getLong(1), r.getString(4))).toSet)
  }

  test("mm03 perceptual hash: planted brightness-shifted copies found, pairs sound, deterministic") {
    val media = Multimodal.noiseMedia(spark, n = 100)
    val hashed = Multimodal.imagePhash(media)
    val pairs = Multimodal.phashPairs(hashed, maxHamming = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    // every +8-brightness re-encode must pair with its base image:
    // aHash is brightness-invariant by construction (cell means and
    // threshold shift together; only 255-clamped cells can flip bits)
    val planted = (0L until 100L by 10).map(i => (i, i + 100000L)).toSet
    val found = pairs.map(p => (p._1, p._2)).toSet
    assert(planted.subsetOf(found), s"missing planted dups: ${planted -- found}")
    assert(pairs.forall(_._3 <= 2), "pair above maxHamming escaped the verify")
    // distinct base photos must not collapse into one hash bucket
    val distinctHashes = hashed.filter(col("media_id") < 100000L)
      .select("phash").distinct().count()
    assert(distinctHashes >= 95, s"only $distinctHashes distinct hashes over 100 photos")
    // bit-stable across runs (decode + hash are pure arithmetic)
    val again = Multimodal.phashPairs(Multimodal.imagePhash(media), maxHamming = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(found == again, "phash pairs are not deterministic")
  }

  test("multimodal decode: deterministic stub metadata from binary payloads") {
    val out = Multimodal.decode(Multimodal.asMedia(cat.documents))
    val byId = out.collect().map(r => r.getLong(0) -> r).toMap
    val src = cat.documents.select("doc_id", "text", "source").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    assert(byId.keySet == src.keySet)
    for ((id, row) <- byId.take(20)) {
      val (text, source) = src(id)
      assert(row.getString(1) == s"fake/$source")
      assert(row.getLong(2) == text.getBytes("UTF-8").length.toLong)
      val w = row.getInt(4); val h = row.getInt(5)
      assert(w >= 320 && w <= 768 && h >= 240 && h <= 576)
      assert(row.getSeq[Long](6).length == (text.length + 255) / 256)
    }
    // decode twice -> identical checksums (determinism)
    val again = Multimodal.decode(Multimodal.asMedia(cat.documents))
      .select("media_id", "checksum").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byId.view.mapValues(_.getLong(3)).toMap == again)
  }

  test("text functions: tokens, shingles, stopword hits, fingerprint") {
    import spark.implicits._
    val df = Seq((1L, "The quick  brown fox"), (2L, "a b")).toDF("doc_id", "text")
    val out = df.select(col("doc_id"),
      Text.tokens(col("text")).as("toks"),
      Text.shingles(Text.tokens(col("text")), 3).as("sh"),
      Text.fingerprint(col("text")).as("fp")).collect()
      .map(r => r.getLong(0) -> r).toMap
    // "The quick  brown fox" -> lower + split(' ') gives an empty token
    // for the double space; shingles include it verbatim
    assert(out(1L).getSeq[String](1).head == "the")
    assert(out(2L).getSeq[String](2).isEmpty, "2 tokens -> no 3-gram shingles")
    // fingerprint collapses whitespace: canonical forms differing only
    // in spacing hash identically
    val fp2 = df.withColumn("text", regexp_replace(col("text"), "  ", " "))
      .select(col("doc_id"), Text.fingerprint(col("text")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L).getString(3) == fp2(1L))
  }

  test("d12 containment: doc-in-doc is asymmetric and invisible to Jaccard") {
    import spark.implicits._
    val small = (1 to 12).map(i => s"w$i").mkString(" ")
    val big = small + " " + (13 to 60).map(i => s"u$i").mkString(" ")
    val other = (100 to 140).map(i => s"z$i").mkString(" ")
    val docs = Seq((1L, small), (2L, big), (3L, other)).toDF("doc_id", "text")
    val cont = Dedup.containmentPairs(docs, n = 3, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // 1 ⊂ 2: all of doc 1's shingles appear in doc 2 -> (1,2) flagged;
    // the reverse direction is nowhere near 0.9; doc 3 shares nothing
    assert(cont == Set((1L, 2L)), s"got $cont")
    // Jaccard at the d04 threshold misses the same pair: the union
    // denominator (58 shingles) drowns the 10-shingle intersection
    val jac = pairSet(Dedup.ngramJaccardPairs(docs, n = 3, threshold = 0.5))
    assert(!jac.contains((1L, 2L)))
  }

  test("d11 incremental dedup: Bloom prefilter is invisible in the result (exact vs plain anti-join)") {
    // split the corpus like the registered entry and compare against
    // the Bloom-free form: batch hashes anti-joined to ALL existing
    // hashes. Bloom fpp only widens the corpus sliver — any
    // difference here means a false NEGATIVE, which the filter
    // guarantees cannot happen.
    val bucket = substring(md5(col("doc_id").cast("string").cast("binary")), 1, 1)
    val digest = md5(substring(col("text"), 1, 64).cast("binary"))
    val newB = cat.documents.filter(bucket >= "c")
    val exB = cat.documents.filter(bucket < "c")
    val got = Dedup.incremental(newB, exB, digest = digest).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val newH = newB.select(col("doc_id"), digest.as("content_hash"))
    val exH = exB.select(digest.as("content_hash")).distinct()
    val want = newH.join(exH, Seq("content_hash"), "left_anti")
      .groupBy("content_hash")
      .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_copies"))
      .collect().map(r => (r.getLong(1), r.getString(0), r.getLong(2))).toSet
    assert(got.nonEmpty && got == want)
    // the interesting paths actually fire on this corpus: planted
    // near-dup families straddle the batch split (cross-batch drops)
    // and repeat within the batch (keep-first collapse)
    val crossDup = newH.join(exH, Seq("content_hash"), "left_semi")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(crossDup.nonEmpty, "corpus should plant cross-batch prefix dups")
    assert(crossDup.forall(id => !got.exists(_._1 == id)),
      "cross-batch dup leaked through the Bloom path")
    assert(got.exists(_._3 > 1), "corpus should plant within-batch dups")
  }

  test("s05 knn graph: IVF-bounded candidates, recall vs brute graph, exact cosines") {
    val n = cat.embeddings.count()
    val graph = Ann.knnGraph(cat.embeddings, k = 3).collect()
    assert(graph.length <= n * 3)
    val got = graph.map(r => (r.getLong(0), r.getLong(2))).toSet
    // brute graph = brute(all, all): same top-k semantics, all-pairs
    val brute = Ann.brute(cat.embeddings, cat.embeddings, k = 3).collect()
    val want = brute.map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (got & want).size.toDouble / want.size
    // 4-of-16 probes on structureless gaussian noise (IVF's worst
    // case) — same coverage floor as the s03 spec
    assert(recall >= 0.15, s"knn-graph recall $recall vs brute graph")
    // cosines on shared edges are the SAME exact values brute computed
    val bruteCos = brute.map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    graph.foreach { r =>
      bruteCos.get((r.getLong(0), r.getLong(2))).foreach { c =>
        assert(math.abs(c - r.getDouble(3)) < 1e-12,
          s"cosine mismatch on edge ${r.getLong(0)}->${r.getLong(2)}")
      }
    }
  }

  test("x18 token-budget sample: two-phase prefix sum equals the one-window form, budget maximal") {
    import org.apache.spark.sql.expressions.Window
    val out = TextQueries.x18.run(spark, "/root/testdata/sf0.01").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.nonEmpty)
    // the naive one-window form (what the oracle states), computed
    // directly: global per-source running sum in (md5, doc_id) order
    val docs = Catalog(spark, "/root/testdata/sf0.01").documents
    val w = Window.partitionBy("source")
      .orderBy("hk", "doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val want = docs.select(col("source"), col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tok"),
        md5(col("doc_id").cast("string").cast("binary")).as("hk"))
      .withColumn("cum_tokens", sum("n_tok").over(w))
      .filter(col("cum_tokens") <= 800)
      .select("source", "doc_id", "n_tok", "cum_tokens").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSet == want.toSet,
      s"two-phase (${out.length}) != one-window (${want.length})")
    // budget holds per source, and the sample is MAXIMAL: every
    // source either fills to within one doc of the budget or is
    // exhausted entirely
    val bySource = out.groupBy(_._1)
    val totalDocs = docs.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    bySource.foreach { case (src, rows) =>
      val tot = rows.map(_._3).sum
      assert(tot <= 800, s"$src kept $tot tokens over budget")
      assert(rows.map(_._4).max == tot, s"$src cum/total mismatch")
      assert(tot > 0)
      if (rows.length < totalDocs(src))
        assert(tot > 800 - 200, s"$src stopped at $tot with docs remaining")
    }
  }

  test("single-scan pin: frozen heavy plans never re-read the corpus per consumer") {
    // regression guard for the round-7 freeze discipline (PLANS.md
    // multi-scan sweep): these plans each materialize their shared
    // derived frame once — a reintroduced multi-consumer subtree
    // shows up as extra FileScans in the FINAL executed plan (d09 was
    // 12 pre-freeze, d04 8, x15 4). x15 legitimately keeps one scan
    // (the vocab branch reads the corpus directly).
    val maxScans = Map("d04_ngram_jaccard" -> 0, "d09_span_dedup" -> 0,
      "d02_dedup_minhash" -> 0, "d07_chunk_dedup" -> 0,
      "x15_perplexity" -> 1, "x18_token_budget_sample" -> 0)
    for ((name, cap) <- maxScans) {
      val df = LlmOps.all.find(_.name == name).get.run(spark, sfDir)
      df.count()
      val plan = df.queryExecution.executedPlan.toString
      val scans = "FileScan".r.findAllIn(plan).size
      assert(scans <= cap, s"$name: $scans FileScans in final plan (cap $cap)")
    }
  }

  test("char entropy: degenerate and uniform docs bracket real prose") {
    // the x21 signal on constructed extremes: a single repeated char
    // has entropy exactly 0 (flagged), a 16-char uniform alphabet is
    // exactly ln 16, and real prose sits between them unflagged
    val docs = spark.createDataFrame(Seq(
      (1L, "a" * 64),
      (2L, "abcdefghijklmnop" * 4),
      (3L, "the quick brown fox jumps over the lazy dog"))).toDF("doc_id", "text")
    val q = LlmOps.all.find(_.name == "x21_char_entropy").get
    // run against a scratch dir whose documents table = our fixture
    val tmp = java.nio.file.Files.createTempDirectory("x21spec")
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = q.run(spark, tmp.toString).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getInt(2),
        r.getDouble(3), r.getBoolean(4)))).toMap
    assert(out(1L) == ((64L, 1, 0.0, true)))
    val (n2, d2, e2, f2) = out(2L)
    assert(n2 == 64L && d2 == 16 && !f2)
    assert(math.abs(e2 - math.log(16.0)) < 1e-5, s"uniform entropy $e2")
    val (_, _, e3, f3) = out(3L)
    assert(e3 > 2.0 && e3 < 4.0 && !f3, s"prose entropy $e3")
  }

  test("x32 temperature mix: sqrt-flattening, upsampling, and budget conservation on a skewed corpus") {
    // planted skew: srcA 8 docs x 100 tokens (97.6% of the corpus),
    // srcB 2 docs x 10 tokens — the low-resource source alpha-sampling
    // exists to rescue
    val docs = spark.createDataFrame(
      (0L until 8L).map(i => (i, "srcA", Seq.fill(100)("a").mkString(" "))) ++
        Seq((8L, "srcB", Seq.fill(10)("b").mkString(" ")),
          (9L, "srcB", Seq.fill(10)("b").mkString(" ")))
    ).toDF("doc_id", "source", "text")
    val tmp = java.nio.file.Files.createTempDirectory("x32spec")
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = LlmOps.all.find(_.name == "x32_temperature_mix").get
      .run(spark, tmp.toString).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    val (a, b) = (out("srcA"), out("srcB"))
    val T = a.getAs[Long]("orig_tokens") + b.getAs[Long]("orig_tokens")
    assert(T == 820L)
    // alpha = 0.5 flattens TOWARD uniform, never past it: the small
    // source's weight rises above its raw share, the big one's falls
    assert(b.getAs[Double]("weight") > 20.0 / 820.0)
    assert(a.getAs[Double]("weight") < 800.0 / 820.0)
    assert(b.getAs[Double]("weight") < a.getAs[Double]("weight"),
      "flattening must not invert the order")
    // rate > 1 on the small source = UPSAMPLING (every doc repeats),
    // rate < 1 on the big one
    assert(b.getAs[Long]("rate_ppm") > 1000000L)
    assert(a.getAs[Long]("rate_ppm") < 1000000L)
    val floorReps = b.getAs[Long]("rate_ppm") / 1000000L
    assert(b.getAs[Long]("n_kept") >= 2 * floorReps &&
      b.getAs[Long]("n_kept") <= 2 * (floorReps + 1),
      "each doc repeats floor(rate) or floor(rate)+1 times")
    // the resample REBALANCES the same token budget: total kept
    // tokens stay near T (fractional-residue noise only)
    val kept = a.getAs[Long]("kept_tokens") + b.getAs[Long]("kept_tokens")
    assert(math.abs(kept - T).toDouble / T < 0.15, s"kept $kept vs budget $T")
  }

  test("x32 on the real corpus: weights sum to 1 and the token budget holds tight") {
    val out = LlmOps.all.find(_.name == "x32_temperature_mix").get
      .run(spark, sfDir).collect()
    val T = out.map(_.getAs[Long]("orig_tokens")).sum
    val kept = out.map(_.getAs[Long]("kept_tokens")).sum
    assert(math.abs(kept - T).toDouble / T < 0.05,
      s"budget drift ${math.abs(kept - T).toDouble / T}")
    val wsum = out.map(_.getAs[Double]("weight")).sum
    assert(math.abs(wsum - 1.0) < 1e-3, s"weights sum to $wsum")
  }

  test("x33 sliding chunks: boundaries, overlap, provenance, and stride reconstruction") {
    val toks30 = (1 to 30).map(i => s"w$i")
    val docs = spark.createDataFrame(Seq(
      (1L, toks30.mkString(" ")), // 4 chunks: starts 0,8,16,24
      (2L, (1 to 5).map(i => s"s$i").mkString(" ")), // short: 1 chunk
      (3L, (1 to 12).map(i => s"t$i").mkString(" ")), // exactly one window
      (4L, (1 to 13).map(i => s"u$i").mkString(" ")) // one past: 2 chunks
    )).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("x33spec")
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val rows = LlmOps.all.find(_.name == "x33_sliding_chunks").get
      .run(spark, tmp.toString).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4)))
    val byDoc = rows.groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    assert(byDoc(1L).map(c => (c._3, c._4)).toSeq ==
      Seq((0L, 12L), (8L, 12L), (16L, 12L), (24L, 6L)))
    assert(byDoc(2L).map(c => (c._3, c._4)).toSeq == Seq((0L, 5L)))
    assert(byDoc(3L).map(c => (c._3, c._4)).toSeq == Seq((0L, 12L)))
    assert(byDoc(4L).map(c => (c._3, c._4)).toSeq == Seq((0L, 12L), (8L, 5L)))
    // consecutive chunks share exactly windowSize - stride = 4 tokens
    val c1 = byDoc(1L).map(_._5.split(" ").toSeq)
    assert(c1(0).takeRight(4) == c1(1).take(4), "4-token overlap")
    // stride reconstruction: first `stride` tokens of every non-final
    // chunk + the final chunk = the original token stream, in order
    val rebuilt = (c1.init.flatMap(_.take(8)) ++ c1.last).toSeq
    assert(rebuilt == toks30.toSeq, "chunks must tile the document")
    // provenance: the chunk text IS the slice the offsets claim
    for ((_, _, start, n, text) <- byDoc(1L))
      assert(text.split(" ").toSeq ==
        toks30.slice(start.toInt, start.toInt + n.toInt))
  }

  test("s18 residual PQ: tighter reconstruction than direct PQ at the same code budget; reported cosines are exact") {
    // the residual-coding win exists where the coarse quantizer
    // EXPLAINS variance — members near their centroid, residuals a
    // small shared blob the code budget resolves finely. (On a
    // structureless uniform sphere residuals SPREAD — |u − ĉ|² =
    // 2 − 2cos ≈ 2 — and the win inverts; the synthetic bench
    // embeddings are that corpus, so the dominance claim is pinned on
    // a PLANTED clustered corpus: 32 tight clusters vs an 8-code
    // budget, where direct coding cannot give each cluster a code but
    // residual coding only has to cover the noise blob.)
    val rnd = new scala.util.Random(77)
    val centers = Array.fill(32, 64)(rnd.nextGaussian())
    val planted = (0 until 32).map(i =>
      (i.toLong, centers(i).map(_.toFloat).toSeq)) ++
      (32 until 400).map { i =>
        val c = centers(i % 32)
        (i.toLong, c.map(x => (x + 0.05 * rnd.nextGaussian()).toFloat).toSeq)
      }
    val emb = spark.createDataFrame(planted).toDF("vec_id", "embedding")
    val coarse = Ann.ivfCodebook(emb, nCentroids = 32, kmeansIters = 2)
    val withU = Ann.assigned(emb, coarse)
      .withColumn("u", transform(col("v"), x => x / col("nrm")))
    val cu = coarse.sortBy(_._1).map { case (_, cv, nc) => cv.map(_ / nc) }
    val rows = withU.select("vec_id", "u", "cluster").collect()
      .map(r => (r.getSeq[Double](1).toArray, r.getInt(2)))
    // both codebooks trained through the same Lloyd machinery, same
    // m x k budget — only the input differs (unit vs residual)
    val cbD = Ann.pqCodebooksOn(withU.select(col("vec_id"), col("u")),
      8, 8, 2, 64)
    val cbR = Ann.pqCodebooksOn(withU.select(col("vec_id"),
      zip_with(col("u"),
        element_at(Ann.unitCentroidsLit(coarse), col("cluster") + 1),
        (a, b) => a - b).as("u")), 8, 8, 2, 64)
    def reconErr(x: Array[Double], cb: Ann.PqCodebook): Double =
      (0 until 8).map { j =>
        val sub = x.slice(j * 8, j * 8 + 8)
        cb(j).map(code =>
          sub.zip(code).map { case (a, b) => (a - b) * (a - b) }.sum).min
      }.sum
    val (dSum, rSum) = rows.foldLeft((0.0, 0.0)) { case ((d, r0), (u, cl)) =>
      // reconstructing u as c + decode(res) leaves error |res - dec|
      val res = u.zip(cu(cl)).map { case (a, b) => a - b }
      (d + reconErr(u, cbD), r0 + reconErr(res, cbR))
    }
    assert(rSum < dSum,
      s"residual recon error $rSum must beat direct coding's $dSum")
    // the re-rank claim (on the REAL corpus entry): every reported
    // cosine is the EXACT pair cosine (quantization bounds
    // candidates, never scores)
    val vm = Ann.normed(cat.embeddings).collect()
      .map(r => r.getLong(0) -> ((r.getSeq[Double](1).toArray, r.getDouble(2))))
      .toMap
    val out = LlmOps.all.find(_.name == "s18_ann_ivfpq_residual").get
      .run(spark, sfDir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (qv, qn) = vm(r.getAs[Long]("query_id"))
      val (nv, nn) = vm(r.getAs[Long]("neighbor_id"))
      val cos = qv.zip(nv).map { case (a, b) => a * b }.sum / (qn * nn)
      assert(math.abs(cos - r.getAs[Double]("cosine")) < 1.01e-6,
        s"reported cosine must be the exact pair cosine, off at $r")
    }
  }

  test("p05 epoch materializer: every sequence but the last fills exactly 1024 tokens; total fill equals x32's kept_tokens") {
    val p = LlmOps.all.find(_.name == "p05_epoch_materializer").get
      .run(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("seq_id"), r.getAs[Long]("n_tokens")))
      .sortBy(_._1)
    assert(p.nonEmpty)
    // contiguous ids from 0, exact fill everywhere but the tail
    assert(p.map(_._1).toSeq == (0L until p.length).toSeq)
    assert(p.init.forall(_._2 == 1024L),
      s"non-final sequence underfilled: ${p.init.filter(_._2 != 1024L).take(3).toSeq}")
    assert(p.last._2 >= 1 && p.last._2 <= 1024)
    // the materialized epoch accounts for exactly what x32 budgeted
    val kept = LlmOps.all.find(_.name == "x32_temperature_mix").get
      .run(spark, sfDir).collect().map(_.getAs[Long]("kept_tokens")).sum
    assert(p.map(_._2).sum == kept,
      "epoch token fill must equal the mix accounting")
  }

  test("codebook train/serve: the reloaded codebook probes bit-identically") {
    import graft.core.Warehouse
    val wh = Warehouse.scratch(spark, "cbspec")
    val trained = Ann.ivfCodebook(cat.embeddings, nCentroids = 8, kmeansIters = 2)
    Ann.saveCodebook(wh, "models", "cb8", trained)
    val served = Ann.loadCodebook(wh, "models", "cb8")
    // parquet round-trips doubles exactly: identical ids and vectors
    assert(served.map(_._1).toSeq == trained.map(_._1).toSeq)
    for (((_, tv, tn), (_, sv, sn)) <- trained.zip(served)) {
      assert(tv.toSeq == sv.toSeq); assert(tn == sn)
    }
    // hence identical probe results, row for row
    val q = cat.embeddings.filter(col("vec_id") < 10)
    def rows(cb: Ann.Codebook) =
      Ann.ivfServe(q, cat.embeddings, k = 3, cb, nProbe = 2)
        .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    assert(rows(trained) == rows(served))
  }

  test("rangeSearch: recall-complete vs brute force, threshold on rounded cosine") {
    // every (query, neighbor) the brute-force top-k surfaces above
    // the threshold must appear in the radius result — no truncation
    val queries = cat.embeddings.filter(col("vec_id") < 8)
    val range = Ann.rangeSearch(queries, cat.embeddings, 0.35)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bruteAbove = Ann.brute(queries, cat.embeddings, k = 50)
      .filter(col("cosine") >= 0.35)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(bruteAbove.nonEmpty, "fixture should have pairs above 0.35")
    assert(bruteAbove.subsetOf(range),
      s"radius search missed ${bruteAbove -- range}")
    // and soundness: nothing below the threshold leaks through
    assert(Ann.rangeSearch(queries, cat.embeddings, 0.35)
      .filter(col("cosine") < 0.35).count() == 0L)
  }

  test("BPE merge sequence matches a single-node reference implementation") {
    import graft.operators.Bpe
    val cat = Catalog(spark, sfDir)
    val docs = cat.documents.filter(col("doc_id") < 120)
    val nMerges = 12

    // independent single-node BPE (Sennrich ACL'16): word-frequency
    // dict, argmax adjacent pair (count desc, then lexicographic),
    // greedy left-to-right non-overlapping merge
    def mergeList(syms: List[String], a: String, b: String): List[String] =
      syms.foldLeft(List.empty[String]) { (acc, s) =>
        if (acc.nonEmpty && acc.last == a && s == b) acc.init :+ (a + b)
        else acc :+ s
      }
    val texts = docs.select("text").collect().map(_.getString(0)).toSeq
    var dict: Seq[(List[String], Long)] = texts
      .flatMap(_.toLowerCase.split("[^a-z]+")).filter(_.nonEmpty)
      .groupBy(identity).toSeq
      .map { case (w, g) => (w.map(_.toString).toList :+ Bpe.EndOfWord) -> g.size.toLong }
    val expected = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    var done = false
    while (expected.size < nMerges && !done) {
      val pc = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((syms, cnt) <- dict; Seq(a, b) <- syms.sliding(2))
        pc((a, b)) = pc.getOrElse((a, b), 0L) + cnt
      if (pc.isEmpty) done = true
      else {
        val ((a, b), n) = pc.toSeq.minBy { case ((x, y), n) => (-n, x, y) }
        if (n < 2) done = true
        else {
          expected += ((a, b, n))
          dict = dict.map { case (syms, cnt) => mergeList(syms, a, b) -> cnt }
        }
      }
    }
    assert(expected.size == nMerges, "fixture corpus too small for 12 merges")

    val got = Bpe.train(docs, "text", nMerges)
    assert(got.map(m => (m.left, m.right, m.pairCount)) == expected.toSeq)
    assert(got.map(_.rank) == (1 to nMerges))
    // serve path: replaying the learned merges over the raw word dict
    // reproduces the trained dict's segmentation exactly
    val served = Bpe.segmentWords(Bpe.wordDict(docs, "text"), got)
      .select("syms").collect().map(_.getSeq[String](0).toList).toSet
    assert(served == dict.map(_._1).toSet)
  }

  test("s15 ratio margin: a planted hub loses to each source's true match despite a HIGHER raw cosine") {
    import spark.implicits._
    // orthonormal scaffolding: h = e0 is the hub direction, d_i = e_i
    // the per-source directions. x_i = 0.8 h + 0.6 d_i; the hub
    // y=100 IS h (cos 0.8 to every source); the true match y=100+i =
    // 0.25 h + 0.968 d_i (cos ~0.781 to its source — LOWER than the
    // hub's, ~0.2 to every other). Raw cosine picks the hub for all;
    // the margin's mutual-kNN denominator must flip every source to
    // its true match.
    def unit(pairs: (Int, Double)*): Seq[Float] = {
      val v = Array.fill(8)(0.0)
      pairs.foreach { case (i, x) => v(i) = x }
      v.map(_.toFloat).toSeq
    }
    val rows =
      (1 to 4).map(i => (i.toLong, unit(0 -> 0.8, i -> 0.6), 0)) ++
      Seq((100L, unit(0 -> 1.0), 1)) ++
      (1 to 4).map(i => (100L + i, unit(0 -> 0.25, i -> 0.968), 1))
    val emb = rows.toDF("vec_id", "embedding", "label")
    val got = Ann.bitextMargin(emb.filter(col("label") === 0),
        emb.filter(col("label") === 1), k = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (1 to 4).map(i => i.toLong -> (100L + i)).toMap,
      s"margin failed to de-hub: $got")

    // the SHORTLIST form survives the same hub: with pool-sized
    // codebooks the probe ranking IS the cosine ranking, so the hub
    // (highest probe score everywhere) is always a candidate — and
    // the margin still demotes it for every source
    val gotAuto = Ann.bitextMarginAuto(emb.filter(col("label") === 0),
        emb.filter(col("label") === 1), k = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotAuto == (1 to 4).map(i => i.toLong -> (100L + i)).toMap,
      s"shortlist margin failed to de-hub: $gotAuto")
  }

  test("s15_auto equals exact s15 on a shortlist-covering corpus — coverage ASSERTED, not assumed") {
    import spark.implicits._
    // planted topical corpus: 16 topic directions e_0..e_15 in 64
    // dims, 5 members per topic per pool, each member a unique tilt
    // e_t + ε·e_(16 + (t·5+j) mod 48). Within-topic cosines ≥ ~0.9,
    // cross-topic ≤ ~0.09 — so every source's true top-4 targets (and
    // every target's top-4 sources) live in its OWN topic, whose
    // cluster the probe ranks first. vec_ids are topic-round-robin so
    // the 16 rank-seeded centroids start one-per-topic.
    def vec(topic: Int, j: Int, eps: Double): Seq[Float] = {
      val v = Array.fill(64)(0.0f)
      v(topic) = 1.0f
      v(16 + (topic * 5 + j) % 48) = eps.toFloat
      v.toSeq
    }
    val srcEps = Seq(0.10, 0.15, 0.20, 0.25, 0.30)
    val tgtEps = Seq(0.12, 0.17, 0.22, 0.27, 0.32)
    val rows =
      (0 until 80).map(i => (i.toLong, vec(i % 16, i / 16, srcEps(i / 16)), 0)) ++
      (0 until 80).map(i => (1000L + i, vec(i % 16, i / 16, tgtEps(i / 16)), 1))
    val emb = rows.toDF("vec_id", "embedding", "label")
    val src = emb.filter(col("label") === 0)
    val tgt = emb.filter(col("label") === 1)

    // exact µ-cosines, driver-side (160 vectors — test-sized only)
    def unitless(r: (Long, Seq[Float], Int)) = r._1 -> r._2.map(_.toDouble).toArray
    val sv = rows.filter(_._3 == 0).map(unitless).toMap
    val tv = rows.filter(_._3 == 1).map(unitless).toMap
    def cosu(a: Array[Double], b: Array[Double]): Long = {
      val dot = a.indices.map(i => a(i) * b(i)).sum
      val na = math.sqrt(a.map(x => x * x).sum)
      val nb = math.sqrt(b.map(x => x * x).sum)
      math.round(dot / (na * nb) * 1000000)
    }
    def top4(of: Long, pool: Map[Long, Array[Double]], me: Array[Double]) =
      pool.toSeq.map { case (id, v) => (cosu(me, v), id) }
        .sortBy { case (c, id) => (-c, id) }.take(4).map(_._2).toSet

    val (fwd, rev) = Ann.bitextShortlists(src, tgt,
      nProbe = 4, occupancy = 256L, kmeansIters = 2)
    val fwdSet = fwd.select("src_id", "tgt_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val revSet = rev.select("src_id", "tgt_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // COVERAGE: every source's exact top-4 targets are forward
    // candidates; every target's exact top-4 sources are reverse
    // candidates — the precondition under which shortlist == exact
    sv.foreach { case (sid, v) =>
      val t4 = top4(sid, tv, v)
      assert(t4.forall(tid => fwdSet((sid, tid))),
        s"fwd shortlist missed src $sid's true top-4: $t4")
    }
    tv.foreach { case (tid, v) =>
      val t4 = top4(tid, sv, v)
      assert(t4.forall(sid => revSet((sid, tid))),
        s"rev shortlist missed tgt $tid's true top-4: $t4")
    }

    val exact = Ann.bitextMargin(src, tgt, k = 4)
      .orderBy("src_id").collect()
    // top-k coverage alone does NOT imply output equality (r14 ADVICE:
    // the exact argmax runs over MARGIN, and a low-cosine target with
    // a small ys normalizer outside the shortlist can win the ratio),
    // so the second precondition is asserted too: each src's exact
    // argmax-margin target is itself a forward candidate
    exact.foreach { r =>
      assert(fwdSet((r.getLong(0), r.getLong(1))),
        s"src ${r.getLong(0)}'s exact argmax-margin target " +
          s"${r.getLong(1)} is not a forward candidate")
    }

    // ...and under those two asserted preconditions the outputs are
    // IDENTICAL — ids, µ-cosines, and margins (same integer
    // normalizer sums, same one double division)
    val exactRows = exact.map(_.toString).toSeq
    val auto = Ann.bitextMarginAuto(src, tgt, k = 4)
      .orderBy("src_id").collect().map(_.toString).toSeq
    assert(auto == exactRows, "shortlist margin diverged from the exact form")
    assert(exactRows.size == 80)
  }

  test("probe routing: routed arg-top-nProbe equals direct on a >RouteThreshold codebook") {
    import spark.implicits._
    // 512 planted centroids (> RouteThreshold=256) in 16 topical
    // groups of 32: unit primary direction e_g plus a per-centroid
    // tilt whose magnitude orders the within-group cosines (smaller
    // tilt → higher cosine against an on-topic query). Cross-group
    // cosines ≈ 0.01 vs within-group ≈ 0.99, so each query's true
    // top-4 lives in its own group — the regime where coarse cells
    // align with groups and routing must recover the direct answer.
    // cids round-robin across groups (the rank-seeded coarse k-means
    // starts one-per-group, the s15 spec discipline).
    def planted(g: Int, tilt: Int, eps: Double): Array[Double] = {
      val v = Array.fill(64)(0.0)
      v(g) = 1.0
      v(16 + tilt % 48) = eps
      v
    }
    val cents = (0 until 512).map { c =>
      val g = c % 16
      val j = c / 16
      val v = planted(g, g * 32 + j, 0.10 + j * 0.01)
      val nrm = math.sqrt(v.map(x => x * x).sum)
      (c.toLong, v.map(_ / nrm).toSeq)
    }.toDF("cid", "cv")
    val queries = (0 until 64).map { i =>
      val g = i % 16
      val j = i / 16
      val v = planted(g, g * 32 + j + 7, 0.05 + j * 0.013)
      (i.toLong, v.toSeq, math.sqrt(v.map(x => x * x).sum))
    }.toDF("vec_id", "v", "nrm")

    def tops(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("vec_id").collect().map(_.toString).toSeq
    val direct = tops(Ann.probeDirect(queries, cents, nProbe = 4))
    val routed = tops(Ann.probeRouted(queries, cents, k = 512L, nProbe = 4))
    // scores, tie-breaks, and order all bitwise-equal: the two forms
    // compute the same dot-product expression on the same rows
    assert(routed == direct,
      "routed top-nProbe diverged from the direct probe")
    assert(direct.size == 64)
    // and the dispatcher picks the routed form past the threshold
    assert(tops(Ann.probeTopN(queries, cents, k = 512L, nProbe = 4)) == direct)
  }

  test("s14 index maintenance: tombstones vanish, upserts serve the new vector, a post-delete upsert revives; anti-joins, not rewrites") {
    val cb = Ann.ivfCodebook(cat.embeddings, nCentroids = 16, kmeansIters = 2)
    val upserts = cat.embeddings.filter(col("vec_id") % 10 === 0)
      .withColumn("embedding",
        concat(slice(col("embedding"), 2, 63), slice(col("embedding"), 1, 1)))
    val tomb = cat.embeddings.filter(col("vec_id") % 7 === 0)
    val live = Ann.ivfIndexApply(
      Ann.assigned(cat.embeddings, cb), upserts, tomb, cb)

    // membership algebra: deletes gone, upserts present — including
    // the REVIVED ids (both %7 and %10: delete then upsert)
    val ids = live.select("vec_id").collect().map(_.getLong(0)).toSet
    val all = cat.embeddings.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(ids == all.filter(id => id % 10 == 0 || id % 7 != 0))
    assert(ids.exists(id => id % 70 == 0), "no revived id in the fixture")

    // an upserted id's live vector IS the shifted one (not the base)
    val upId = ids.find(_ % 10 == 0).get
    val served = live.filter(col("vec_id") === upId)
      .select("v").collect()(0).getSeq[Double](0)
    val raw = cat.embeddings.filter(col("vec_id") === upId)
      .select(graft.functions.Vectors.toDouble(col("embedding")).as("v"))
      .collect()(0).getSeq[Double](0)
    assert(served == raw.drop(1) ++ raw.take(1), "upsert served a stale vector")

    // the maintenance plan is two id anti-joins over the base — the
    // base index is filtered, never recomputed or rewritten
    val plan = live.queryExecution.optimizedPlan.toString
    assert("LeftAnti".r.findAllIn(plan).size == 2,
      "maintenance must be anti-join-shaped")

    // serving never returns a dead id
    val res = Ann.ivfServeIndexed(cat.embeddings.filter(col("vec_id") < 20),
      live, k = 5, cb, nProbe = 4).collect()
    assert(res.nonEmpty &&
      res.forall(r => { val n = r.getLong(2); n % 10 == 0 || n % 7 != 0 }))
  }

  test("s16 index compaction: live view preserved bit-for-bit, log truncated, increments compose across the compact, latest op wins") {
    val dir = graft.core.Scratch.dir("s16spec").toString
    val cb = Ann.ivfCodebook(cat.embeddings, nCentroids = 16, kmeansIters = 2)
    val shifted = cat.embeddings.filter(col("vec_id") % 10 === 0)
      .withColumn("embedding",
        concat(slice(col("embedding"), 2, 63), slice(col("embedding"), 1, 1)))
    Ann.indexInit(cat.embeddings, cb, dir)
    Ann.indexDelete(
      cat.embeddings.filter(col("vec_id") % 7 === 0).select("vec_id"),
      dir, seq = 1L)
    Ann.indexUpsert(shifted, cb, dir, seq = 2L)

    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).toSet
    val queries = cat.embeddings.filter(col("vec_id") < 20)
    val preLive = rows(Ann.indexLive(spark, dir))
    val preServe = rows(Ann.ivfServeIndexed(queries,
      Ann.indexLive(spark, dir), k = 5, cb, nProbe = 4))

    val n = Ann.indexCompact(spark, dir)
    // commit is a manifest advance, NOT a delete: folded segments stay
    // on disk (racing readers' pinned snapshots) until vacuum sweeps
    // them along with the superseded generation
    assert(new java.io.File(s"$dir/log/s00000001").exists(),
      "compaction must not delete folded segments at commit time")
    val (sweptBases, sweptSegs) = Ann.indexVacuum(spark, dir)
    assert(sweptBases == 1 && sweptSegs == 2,
      s"vacuum must sweep gen 1 + both folded segments, got ($sweptBases, $sweptSegs)")
    assert(!new java.io.File(s"$dir/log/s00000001").exists() &&
      !new java.io.File(s"$dir/base_00001").exists(),
      "vacuum must remove folded segments and the superseded generation")
    val base = Ann.indexBase(spark, dir)
    assert(base.count() == n)
    // compaction preserves the live view bit-for-bit...
    assert(rows(Ann.indexLive(spark, dir)) == preLive,
      "compaction changed the live view")
    // ...including what serving sees
    assert(rows(Ann.ivfServeIndexed(queries, base, k = 5, cb, nProbe = 4))
      == preServe, "post-compaction serving diverged")

    // increments COMPOSE across the compaction: a fresh delete+upsert
    // round against the compacted base equals s14's one-shot algebra
    // applied to the pre-compaction live frame
    val del2 = cat.embeddings.filter(col("vec_id") % 11 === 0).select("vec_id")
    val up2 = cat.embeddings.filter(col("vec_id") % 13 === 0)
    Ann.indexDelete(del2, dir, seq = 3L)
    Ann.indexUpsert(up2, cb, dir, seq = 4L)
    val expected = rows(Ann.ivfIndexApply(base, up2, del2, cb))
    assert(rows(Ann.indexLive(spark, dir)) == expected,
      "post-compaction increments drifted from the one-shot algebra")

    // seq order is REAL: an upsert followed by a delete of the same id
    // (higher seq) kills it — the interleaving s14's one-shot
    // tombstones-then-upserts algebra cannot express
    val victim = cat.embeddings.filter(col("vec_id") % 13 === 0)
      .select("vec_id").limit(1)
    Ann.indexDelete(victim, dir, seq = 5L)
    val victimId = victim.collect()(0).getLong(0)
    val liveIds = Ann.indexLive(spark, dir)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(!liveIds(victimId), "a later delete must win over an earlier upsert")
  }

  test("s17 index time travel: AS-OF resolves the committed snapshot, survives later increments, reaches exactly as far as vacuum retention") {
    val dir = graft.core.Scratch.dir("s17spec").toString
    val cb = Ann.ivfCodebook(cat.embeddings, nCentroids = 16, kmeansIters = 2)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).toSet
    Ann.indexInit(cat.embeddings, cb, dir)
    val v1 = rows(Ann.indexBase(spark, dir))
    Ann.indexDelete(
      cat.embeddings.filter(col("vec_id") % 7 === 0).select("vec_id"),
      dir, seq = 1L)
    Ann.indexCompact(spark, dir) // v2
    Ann.indexUpsert(cat.embeddings.filter(col("vec_id") % 13 === 0),
      cb, dir, seq = 2L)
    Ann.indexCompact(spark, dir) // v3

    // AS-OF v1 is bit-identical to the original init, two compactions
    // and an upsert later — no version was ever rewritten
    assert(rows(Ann.indexBaseAsOf(spark, dir, 1)) == v1)
    // the m29 resolution rule: a request between commits resolves to
    // the latest version <= it; a pre-history request refuses
    assert(rows(Ann.indexBaseAsOf(spark, dir, 99)) ==
      rows(Ann.indexBase(spark, dir)))
    intercept[IllegalArgumentException] {
      Ann.indexBaseAsOf(spark, dir, 0)
    }
    // a version is a COMMITTED snapshot: v2 (delete folded) does not
    // contain the tombstoned ids, v3 re-adds the %13 upserts
    val v2Ids = Ann.indexBaseAsOf(spark, dir, 2)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(v2Ids.nonEmpty && !v2Ids.exists(_ % 7 == 0))
    assert(Ann.indexBaseAsOf(spark, dir, 3)
      .select("vec_id").collect().map(_.getLong(0)).toSet
      .exists(i => i % 13 == 0 && i % 7 == 0), "v3 must revive %91 ids")

    // retention: vacuum keeps the latest version only — history
    // reaches exactly as far as the sweep cadence allows
    Ann.indexVacuum(spark, dir)
    intercept[IllegalArgumentException] {
      Ann.indexBaseAsOf(spark, dir, 1)
    }
    assert(rows(Ann.indexBaseAsOf(spark, dir, 3)) ==
      rows(Ann.indexBase(spark, dir)))
  }

  test("s16 compaction is crash-safe: orphan generation invisible, racing reader pinned, committed fold never reapplies") {
    val dir = graft.core.Scratch.dir("s16crash").toString
    val cb = Ann.ivfCodebook(cat.embeddings, nCentroids = 16, kmeansIters = 2)
    Ann.indexInit(cat.embeddings, cb, dir)
    Ann.indexDelete(
      cat.embeddings.filter(col("vec_id") % 7 === 0).select("vec_id"),
      dir, seq = 1L)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).toSet
    val preLive = rows(Ann.indexLive(spark, dir))

    // CRASH 1: killed between the generation write and the manifest
    // rename — exactly what indexCompact does first, with the commit
    // withheld. The orphan is invisible: no manifest references it.
    Ann.indexLive(spark, dir).write.mode("overwrite")
      .parquet(s"$dir/base_00002")
    assert(rows(Ann.indexLive(spark, dir)) == preLive,
      "an uncommitted generation must not change the served view")
    assert(rows(Ann.indexBase(spark, dir)) ==
      rows(spark.read.parquet(s"$dir/base_00001")),
      "the committed base must still be generation 1")

    // a reader OPENED BEFORE the retried compaction completes serves
    // its pinned snapshot bit-identically (commit deletes nothing)
    val pinned = Ann.indexLive(spark, dir)

    // the retried compaction replaces the orphan at its own slot (no
    // manifest ever referenced it — the TimeTravel.commit rule) and
    // commits; the pinned reader is unaffected
    val n = Ann.indexCompact(spark, dir)
    assert(rows(pinned) == preLive,
      "a reader racing the compaction must keep its pinned snapshot")
    assert(rows(Ann.indexBase(spark, dir)) == preLive &&
      Ann.indexBase(spark, dir).count() == n,
      "the committed generation must equal the pre-compact live view")

    // CRASH 2: killed after the manifest commit, before any sweep —
    // there IS no truncate step to lose: the folded segment still on
    // disk is metadata-dead (seq <= logFrom), so the live view never
    // reapplies it. Strictly stronger than idempotent reapply.
    assert(new java.io.File(s"$dir/log/s00000001").exists())
    assert(rows(Ann.indexLive(spark, dir)) == preLive,
      "a folded segment must never reapply after the manifest commit")

    // the crash residue is vacuum-sweepable, and a post-vacuum
    // increment composes as usual
    Ann.indexVacuum(spark, dir)
    Ann.indexDelete(cat.embeddings.filter(col("vec_id") % 11 === 0)
      .select("vec_id"), dir, seq = 2L)
    val liveIds = Ann.indexLive(spark, dir)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(liveIds.nonEmpty && !liveIds.exists(i => i % 11 == 0 || i % 7 == 0))
  }

  test("d02_auto: the planner at d02's own threshold reproduces d02 byte-for-byte (8×4 recovered, not asserted)") {
    val fixed = Dedup.minhashPairs(cat.documents, n = 3,
      threshold = 0.5, bands = 8).collect().map(_.toString).toSet
    val planned = Dedup.minhashPairs(cat.documents, n = 3,
      threshold = 0.5).collect().map(_.toString).toSet
    assert(fixed.nonEmpty && planned == fixed,
      "the derived dial must reproduce the fixed 8×4 family exactly")
  }

  test("d19 band planner: midpoints drive the dial, bands fall as the threshold rises, planned pairs superset d02's") {
    // the midpoint table: (1/b)^(1/r) closest to the threshold
    assert(Dedup.bandPlan(32, 0.5) == (8, 4))   // d02's dial recovered
    assert(Dedup.bandPlan(32, 0.25) == (16, 2)) // midpoint exactly 0.25
    assert(Dedup.bandPlan(32, 0.85) == (4, 8))
    // recall dial: a lower threshold must never get FEWER bands
    val bands = Seq(0.1, 0.3, 0.5, 0.7, 0.9).map(t => Dedup.bandPlan(32, t)._1)
    assert(bands == bands.sorted.reverse, s"non-monotone dial: $bands")
    // structural superset: a shared 4-row band implies both 2-row
    // halves match, and 0.25 <= 0.5, so every d02 pair must appear
    val lo = Dedup.minhashPairs(cat.documents, n = 3, threshold = 0.25)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val hi = Dedup.minhashPairs(cat.documents, n = 3, threshold = 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hi.subsetOf(lo), s"missing from planned run: ${(hi -- lo).take(3)}")
    // whether extra sub-0.5 pairs EXIST is corpus-dependent (none at
    // sf0.001); the planted fixture below pins the recall gain: a
    // ~0.44-Jaccard pair the 8×4 dial's verify threshold would drop
    // is surfaced by the planned 16×2 run
    import spark.implicits._
    val a = (1 to 20).map(i => s"w$i").mkString(" ")
    val b = ((1 to 13).map(i => s"w$i") ++ (1 to 7).map(i => s"z$i")).mkString(" ")
    val planted = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
    val caught = Dedup.minhashPairs(planted, n = 3, threshold = 0.25)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(caught.exists(p => p._1 == 1L && p._2 == 2L && p._3 < 0.5 && p._3 >= 0.25),
      s"planted mid-similarity pair not surfaced: ${caught.toSeq}")
  }

  test("mm06 video dedup: planted matrix exact; non-sampled frames are length-skipped, never decoded") {
    import spark.implicits._
    // full planted matrix: every 3rd clip pairs with its re-encoded
    // copy — hard-cut copies (every 6th) at quorum 3, pure
    // brightness-shift copies at 4; NO unrelated pair reaches quorum
    val pairs = Multimodal.videoPairs(Multimodal.videoKeyHashes(
        Multimodal.videoMedia(spark, n = 90), stride = 2),
        minSlots = 3, maxHamming = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val expected = (0 until 90 by 3).map(i =>
      (i.toLong, 100000L + i, if (i % 6 == 0) 3 else 4)).toSet
    assert(pairs == expected)

    // skip pin: corrupting a NON-sampled frame's bytes must be
    // invisible — if the operator decoded it, ImageIO would fail or
    // the hashes would drift; identical hashes prove the stride seek
    // genuinely skips payload, which is the 100 TB decode budget
    val scenes = Seq.tabulate(Multimodal.VideoFrames)(f => 7L * 1024 + f)
    val clip = Multimodal.videoClip(scenes)
    val bb = java.nio.ByteBuffer.wrap(clip)
    bb.getInt() // frame count
    val len0 = bb.getInt()
    val png1Start = 8 + len0 + 4 // header + frame0 + frame1's length prefix
    val bad = clip.clone()
    (20 until 40).foreach(i => bad(png1Start + i) = (~bad(png1Start + i)).toByte)
    def hashesOf(payload: Array[Byte]) =
      Multimodal.videoKeyHashes(
        Seq((7L, "video/x-graft", payload)).toDF("media_id", "media_type", "payload"))
        .collect().map(r => (r.getInt(1), r.getLong(2))).toSet
    assert(hashesOf(bad) == hashesOf(clip),
      "a corrupted unsampled frame changed the keyframe hashes — the skip is decoding")
  }

  test("d18 incremental LSH: increment pairs == d02's full-corpus pairs restricted to >=1 new member; index appends; verify is partner-bounded") {
    val isNew = col("doc_id") % 5 === 0
    val idxDir = graft.core.Scratch.dir("d18spec").toString + "/index"
    val got = Dedup.incrementalLshPairs(cat.documents, isNew, idxDir,
      n = 3, threshold = 0.5)

    // parity: the increment must find EXACTLY the full recompute's
    // pairs that involve a new doc — nothing extra, nothing missed
    val inc = got.filter(col("id_a") >= 0)
      .select("id_a", "id_b", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val full = Dedup.minhashPairs(cat.documents, n = 3, threshold = 0.5)
      .filter(col("id_a") % 5 === 0 || col("id_b") % 5 === 0).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(inc == full, s"only-inc=${(inc -- full).take(3)} only-full=${(full -- inc).take(3)}")
    assert(inc.nonEmpty, "fixture must contain cross-batch near-dups")

    // provenance labels both pair classes correctly
    val prov = got.filter(col("id_a") >= 0)
      .collect().map(r => ((r.getLong(0) % 5 == 0 && r.getLong(1) % 5 == 0),
        r.getString(3))).toSet
    assert(prov.forall { case (bothNew, p) =>
      p == (if (bothNew) "new_vs_new" else "new_vs_old") })

    // index maintenance: after the run the on-disk index holds bands
    // for EVERY shingled doc (old build + appended batch), 8 per doc
    val idx = spark.read.parquet(idxDir)
    val nShingled = cat.documents
      .filter(size(Text.tokens(col("text"))) >= 3)
      .count()
    assert(idx.select("doc_id").distinct().count() == nShingled)
    assert(idx.groupBy("doc_id").count().select(max("count"))
      .collect()(0).getLong(0) == 8L)

    // partner-bounded verify: the old side of the exact-Jaccard join
    // enters through a LeftSemi partner filter, never a corpus scan
    val plan = Dedup.incrementalLshPairs(cat.documents, isNew,
        graft.core.Scratch.dir("d18spec2").toString + "/index",
        n = 3, threshold = 0.5)
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("LeftSemi"),
      "old-side shingling must be semi-join bounded to candidate partners")
  }

  for (q <- LlmOps.all ++ graft.queries.Quality.all) {
    test(s"${q.name} returns rows at sf0.001") {
      assert(q.run(spark, sfDir).count() > 0)
    }
  }
}
