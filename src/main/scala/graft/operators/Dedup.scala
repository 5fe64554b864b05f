package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{Hashing, Text}

/** Deduplication operators over a documents table (doc_id, text).
  *
  * Scale contract (SURVEY.md §4): NOTHING here is O(n²). Candidate
  * pairs always come from an equi-join on a bounded key — a content
  * hash, an LSH band bucket, a SimHash chunk, or an inverted shingle
  * index — so the shuffle is on the key and the pair space is only
  * what collides. Exact similarity is computed on candidates only.
  */
object Dedup {

  /** Exact dedup: md5 content hash, keep the lowest doc_id per hash.
    * One hash aggregation; at 100 TB this is the standard
    * shuffle-on-digest dedup.
    */
  def exact(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        md5(col("text").cast(BinaryType)).as("content_hash"))
      .groupBy("content_hash")
      .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_copies"))
      .select("doc_id", "content_hash", "n_copies")

  /** Incremental ingest dedup: drop new-batch docs whose content
    * already exists in the corpus, without shuffling the corpus.
    *
    * The scale asymmetry this exploits: a daily ingest batch is tiny
    * next to the accumulated corpus (GBs vs 100 TB), and a plain
    * anti-join would shuffle the 100 TB side on digest. Instead a
    * Bloom filter is built over the BATCH digests (one distributed
    * aggregate over the small side; `expectedItems`·~10 bits however
    * large the corpus is), the corpus is scanned ONCE and filtered to
    * digests that might be in the batch — fpp·|corpus| + true
    * overlaps survive — and that sliver is grouped together WITH the
    * batch on digest: one shuffle of batch + sliver rows, in which a
    * group holding any sliver row is a corpus hit and is dropped.
    * Bloom false positives only add sliver rows to groups that hold no
    * batch row, so the result is EXACT (and oracle-gated as d11). No
    * false negatives: every corpus digest equal to a batch digest
    * passes the probe by construction. Within-batch duplicates
    * collapse keep-first like [[exact]].
    *
    * `digest` canonicalizes before hashing — full text by default;
    * crawl pipelines commonly key on a prefix hash (near-exact dup
    * families share head content long before they share full bodies).
    */
  def incremental(newBatch: DataFrame, existing: DataFrame,
      digest: org.apache.spark.sql.Column =
        md5(col("text").cast(BinaryType)),
      expectedItems: Long = 1 << 20, fpp: Double = 0.01): DataFrame =
    incrementalAgainstDigests(newBatch,
      existing.select(digest.as("content_hash")), digest,
      expectedItems, fpp)

  /** [[incremental]] when the accumulated side is ALREADY a digest
    * table (`content_hash` column) — the maintained-state form: a
    * streaming ingest keeps the corpus's digests as a table and never
    * re-reads corpus text at all.
    */
  def incrementalAgainstDigests(newBatch: DataFrame, digests: DataFrame,
      digest: org.apache.spark.sql.Column,
      expectedItems: Long = 1 << 20, fpp: Double = 0.01): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    val newH = newBatch.select(col("doc_id"), digest.as("content_hash"),
      lit(false).as("seen"))
    // The probe runs on the CORPUS-sized digest scan — at 100 TB that
    // scan IS the job, so it must stay inside whole-stage codegen. A
    // Scala UDF would pay per-row ser/de there; instead the filter is
    // built over xxhash64(content_hash) longs and probed through
    // Catalyst's own codegen'd BloomFilterMightContain, fed by a scalar
    // subquery over BloomFilterAggregate — Spark's own runtime-filter
    // shape. The filter is built inside the query (no eager job) and
    // never becomes a plan literal. An xxhash64 collision only ADDS a
    // sliver row (a group with no batch row, which the grouping below
    // drops); equal digests always collide, so no false negatives.
    val h = expression(xxhash64(col("content_hash")))
    val bloom = newH.select(column(new BloomFilterAggregate(h,
        Literal(expectedItems), Literal(org.apache.spark.util.sketch
          .BloomFilter.optimalNumOfBits(expectedItems, fpp)))
      .toAggregateExpression())).scalar()
    // a null digest never matches, as in an anti-join
    val sliver = digests
      .filter(col("content_hash").isNotNull &&
        column(BloomFilterMightContain(expression(bloom), h)))
      .select(lit(null).cast(newH.schema("doc_id").dataType).as("doc_id"),
        col("content_hash"), lit(true).as("seen"))
    // the anti-join folded into the keep-first grouping: a kept group
    // holds batch rows only, so count(1) is its batch copy count
    newH.unionByName(sliver)
      .groupBy("content_hash")
      .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_copies"),
        max("seen").as("seen"))
      .filter(!col("seen"))
      .select("doc_id", "content_hash", "n_copies")
  }

  /** (doc_id, shingles: array<long>) — distinct word n-gram shingles
    * folded to `family`'s long hash immediately, so every downstream
    * join/compare moves 8-byte keys instead of strings (xxhash64
    * collision odds across a ~10^5-shingle corpus: ~10^-9; irrelevant
    * next to the similarity thresholds). Empty docs dropped.
    *
    * The `explode(array(tokens))` step is a deliberate Generate
    * barrier: it materializes the split ONCE per document so the
    * shingle lambda slices an attribute. Passing the split expression
    * straight in re-tokenizes the text for every shingle index
    * (lambda-captured expressions are re-evaluated per element) —
    * measured 10× on the d04 pipeline. The hash is applied before the
    * distinct, so the md5 family pays ONE md5 per shingle and
    * everything downstream is integer arithmetic.
    */
  private def shingles(docs: DataFrame, n: Int,
      family: Hashing.Family): DataFrame =
    docs.select(col("doc_id"),
        explode(array(Text.tokens(col("text")))).as("toks"))
      .select(col("doc_id"),
        array_distinct(transform(
          Text.shingles(col("toks"), n),
          s => family.shingle(s))).as("shingles"))
      .filter(size(col("shingles")) > 0)

  /** MinHash signatures as one hash aggregation: k `min` aggregates
    * of [[Hashing.affine]] slots (map-side combined, whole-stage
    * codegen) over the exploded shingle hashes folded below 2^31. The
    * explode materializes each shingle ONCE (the tempting alternative
    * — nested higher-order lambdas over the shingle array —
    * re-evaluates the captured shingle/tokenize expression per lambda
    * element, going quadratic in practice); the group-by is the
    * materialization barrier that makes `sig` an attribute for the
    * band expression.
    */
  private def minhashSignatures(sh: DataFrame, k: Int): DataFrame = {
    val aggs = Hashing.minhashParams(k).zipWithIndex.map { case ((a, b), j) =>
      min(Hashing.affine(col("h31"), a, b)).as(s"mh$j") }
    sh.select(col("doc_id"), explode(col("shingles")).as("shingle"))
      .select(col("doc_id"), pmod(col("shingle"), lit(Hashing.M31)).as("h31"))
      .groupBy("doc_id")
      .agg(aggs.head, aggs.tail: _*)
      .select(col("doc_id"), array((0 until k).map(j => col(s"mh$j")): _*).as("sig"))
  }

  /** SimHash per doc over `family`'s shingle hashes: bit i of the
    * fingerprint is the sign of Σ_shingles (±1 by bit i of the shingle
    * hash), for each of the family's bits. Conditional-sum aggregates,
    * map-side combined and codegen'd, one shuffle on doc_id; every
    * step is BIGINT arithmetic any engine reproduces.
    */
  private def simhashes(sh: DataFrame, family: Hashing.Family): DataFrame = {
    val h = col("shingle")
    val aggs = (0 until family.bits).map { i =>
      sum(when(shiftrightunsigned(h, i).bitwiseAND(lit(1L)) === 1L, 1)
        .otherwise(-1)).as(s"bit$i") }
    val fp = (0 until family.bits).map { i =>
      when(col(s"bit$i") > 0, lit(1L << i)).otherwise(lit(0L)) }
      .reduce((a, b) => a.bitwiseOR(b))
    sh.select(col("doc_id"), explode(col("shingles")).as("shingle"))
      .groupBy("doc_id")
      .agg(aggs.head, aggs.tail: _*)
      .select(col("doc_id"), fp.as("simhash"))
  }

  /** n-gram Jaccard ≥ `threshold` via an inverted shingle index:
    * explode distinct shingles, self-join on the shingle (pairs only
    * exist where docs SHARE a shingle — sparse), count the
    * intersection, derive the union from per-doc set sizes.
    *
    * `maxDf` is the stop-shingle cap that makes the self-join safe on
    * natural language: shingle document frequency is Zipfian, so one
    * hot shingle ("of the and") at corpus scale turns its join key
    * into a DF² quadratic bucket. Shingles with DF > maxDf are
    * excluded from the index — candidate generation, intersection
    * counts, AND set sizes — so the output is exact Jaccard over the
    * non-stop shingle sets (the standard stopword contract: with
    * maxDf ≥ the corpus max DF the result is identical to uncapped,
    * which is how the DuckDB oracle pins it; per-key join work is
    * bounded by maxDf² regardless of corpus size).
    */
  def ngramJaccardPairs(docs: DataFrame, n: Int, threshold: Double,
      maxDf: Long = Long.MaxValue): DataFrame =
    ngramJaccardFromIndex(shingleIndex(docs, n).localCheckpoint(true),
      threshold, maxDf)

  /** The (doc_id, shingle) inverted index over xxhash64 shingles. Its
    * users freeze it once (eager localCheckpoint): its consumers (stop
    * list, sizes, both sides of the candidate self-join) would
    * otherwise EACH re-tokenize the corpus — ReuseExchange does not
    * unify them (Explain --execute showed 8 corpus scans pre-freeze).
    * At warehouse scale this is "write the (doc, shingle) index once,
    * read it four times".
    */
  private def shingleIndex(docs: DataFrame, n: Int): DataFrame =
    shingles(docs, n, Hashing.Xx64)
      .select(col("doc_id"), explode(col("shingles")).as("shingle"))

  /** (id_a, id_b, inter): every doc pair sharing an indexed shingle,
    * with how many it shares — the index self-join on the shingle.
    */
  private def sharedShingles(index: DataFrame): DataFrame =
    index.as("a")
      .join(index.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("inter"))

  /** The index without its hot shingles (DF > maxDf), and each doc's
    * shingle-set size over what is kept. The hot-shingle stop list is
    * tiny by construction (only keys with DF > maxDf), so the
    * anti-join broadcasts.
    */
  private def withoutHot(all: DataFrame, maxDf: Long): (DataFrame, DataFrame) = {
    val hot = all.groupBy("shingle").agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf).select("shingle")
    val kept = all.join(broadcast(hot), Seq("shingle"), "left_anti")
    (kept, kept.groupBy("doc_id").agg(count(lit(1)).cast(LongType).as("n_sh")))
  }

  /** The post-index core of [[ngramJaccardPairs]], shared with the
    * auto dial so the dial's stats pass can read the SAME frozen
    * index instead of re-tokenizing the corpus.
    */
  private def ngramJaccardFromIndex(all: DataFrame, threshold: Double,
      maxDf: Long): DataFrame = {
    val (exploded, sizes) = withoutHot(all, maxDf)
    val inter = sharedShingles(exploded)
    val j = col("inter").cast(DoubleType) / (col("na") + col("nb") - col("inter"))
    inter
      .join(sizes.select(col("doc_id").as("id_a"), col("n_sh").as("na")), "id_a")
      .join(sizes.select(col("doc_id").as("id_b"), col("n_sh").as("nb")), "id_b")
      .filter(j >= threshold)
      .select(col("id_a"), col("id_b"), round(j, 6).as("jaccard"))
  }

  /** Exact Jaccard of a pair's shingle sets (payload columns sa, sb). */
  private val jaccard: Column = {
    val inter = size(array_intersect(col("sa"), col("sb"))).cast(DoubleType)
    inter / (size(col("sa")) + size(col("sb")) - inter)
  }

  /** Candidates verified to exact shingle Jaccard ≥ `threshold`: id_a's
    * shingles come from `shA`, id_b's from `shB`, and `extra` candidate
    * columns follow the score.
    */
  private def jaccardPairs(cands: DataFrame, shA: DataFrame, shB: DataFrame,
      threshold: Double, extra: Seq[Column] = Nil): DataFrame =
    cands
      .join(shA.select(col("doc_id").as("id_a"), col("shingles").as("sa")), "id_a")
      .join(shB.select(col("doc_id").as("id_b"), col("shingles").as("sb")), "id_b")
      .filter(jaccard >= threshold)
      .select(Seq(col("id_a"), col("id_b"), round(jaccard, 6).as("jaccard")) ++ extra: _*)

  /** FUZZY DECONTAMINATION (x31 — the GPT-3/LLaMA-style near-dup
    * check against evaluation sets): x13's exact n-gram overlap
    * catches VERBATIM benchmark leakage; this catches the
    * paraphrased/partially-edited leakage exact matching misses, by
    * running the portable MinHash-LSH family BIPARTITE between the
    * training corpus and the eval set. Scale shape: the eval side is
    * KB-to-MB at any corpus scale, so its (band, bucket) rows
    * BROADCAST — the corpus pays one shingle+signature pass (d02's
    * map-side cost) and only bucket collisions reach the exact-verify
    * join; nothing is corpus × corpus. Same engine-portable hash
    * family as d02, so candidates — hence the verified pair set — are
    * DuckDB-reproducible (oracle-gated).
    */
  def fuzzyContamination(corpus: DataFrame, evalSet: DataFrame, n: Int,
      threshold: Double, k: Int = 32, bands: Int = 8): DataFrame = {
    val b = bandsFor(k, threshold, bands)
    // frozen: each side's shingle index feeds its signature pass AND
    // its exact-verify leg
    val shC = shingles(corpus, n, Hashing.Md5).localCheckpoint(true)
    val shE = shingles(evalSet, n, Hashing.Md5).localCheckpoint(true)
    val bC = bandRows(minhashSignatures(shC, k), k, b)
    val bE = bandRows(minhashSignatures(shE, k), k, b)
    jaccardPairs(BandedPairs.probe(bC, broadcast(bE), "doc_id", Seq("band", "bucket")),
        shC, shE, threshold)
      .toDF("doc_id", "eval_id", "jaccard")
  }

  /** PER-DOC-BUDGET DF cap for the inverted-index family — the
    * d03_auto/d17_auto occupancy recipe applied to d04/d12's
    * stop-shingle dial: ONE aggregation over the shingle index
    * measures (rows, docs), and the cap is budget / s̄ (mean shingles
    * per doc), so the expected candidate PARTNERS PER DOC
    * ≈ s̄ · cap = budget holds constant across corpora with different
    * document lengths — a long-doc corpus gets a proportionally lower
    * cap where the fixed maxDf=1000 would let per-doc join work grow
    * with doc length. Under a Zipf(≈1) DF distribution the total
    * candidate volume Σ_kept DF²/2 ≈ N·cap — linear in corpus size at
    * any fixed cap (why the registered fixed form's 10× ratios are
    * already sub-linear); the dial fixes the CONSTANT to a budget
    * instead of a guess. The floor keeps tiny corpora from capping
    * legitimate duplicate families.
    */
  def jaccardDfCapAuto(docs: DataFrame, n: Int, budget: Long = 65536L,
      floor: Long = 64L): Long =
    dfCap(shingleIndex(docs, n), budget, floor)

  private def dfCap(index: DataFrame, budget: Long, floor: Long): Long = {
    val r = index
      .agg(count(lit(1)).as("rows"), countDistinct(col("doc_id")).as("docs"))
      .head
    val sbar = math.max(1L, r.getLong(0) / math.max(1L, r.getLong(1)))
    math.max(floor, budget / sbar)
  }

  /** [[ngramJaccardPairs]] with the DF cap derived from the corpus —
    * the 100 TB default for the inverted-index family; the registered
    * d04 keeps the fixed cap for run-to-run comparability. ONE
    * tokenize pass: the stats aggregate and the pair machinery read
    * the same frozen shingle index (re-deriving the cap from a second
    * [[jaccardDfCapAuto]] scan would re-tokenize the corpus — the
    * exact duplicated-scan cost the index freeze exists to avoid).
    * Where the derived cap exceeds the corpus max DF the output
    * equals the uncapped exact Jaccard (d04's own oracle), which is
    * how the registered d04_auto is hash-gated.
    */
  def ngramJaccardPairsAuto(docs: DataFrame, n: Int, threshold: Double,
      budget: Long = 65536L, floor: Long = 64L): DataFrame = {
    val all = shingleIndex(docs, n).localCheckpoint(true)
    ngramJaccardFromIndex(all, threshold, dfCap(all, budget, floor))
  }

  /** Shingle CONTAINMENT pairs: ordered (id_a contained-in id_b) with
    * |S(a)∩S(b)| / |S(a)| ≥ threshold — the asymmetric complement to
    * [[ngramJaccardPairs]]. Jaccard misses doc-in-doc relations (a
    * quote, a boilerplate wrapper, an article embedded in a digest
    * drowns in the larger doc's union); containment normalizes by the
    * SMALLER side only, which is how quote/subset families are found.
    * Same scale shape as d04: one frozen inverted index, hot-shingle
    * stop list, intersections from the equi-join computed ONCE per
    * unordered pair and emitted in both directions (cheaper than an
    * a≠b join, which would double the join output). `minShingles`
    * keeps trivially-short docs from flagging spurious containment.
    */
  def containmentPairs(docs: DataFrame, n: Int, threshold: Double,
      maxDf: Long = Long.MaxValue, minShingles: Long = 10L): DataFrame = {
    val (exploded, sizes) =
      withoutHot(shingleIndex(docs, n).localCheckpoint(true), maxDf)
    // frozen: the two union directions below would otherwise EACH
    // re-run the candidate self-join (the expensive part); one row
    // per colliding pair is the cheapest possible materialization
    val interU = sharedShingles(exploded).localCheckpoint(true)
    val directed = interU
      .unionAll(interU.select(col("id_b").as("id_a"), col("id_a").as("id_b"), col("inter")))
    val cont = col("inter").cast(DoubleType) / col("na")
    directed
      .join(sizes.select(col("doc_id").as("id_a"), col("n_sh").as("na")), "id_a")
      .filter(col("na") >= minShingles && cont >= threshold)
      .select(col("id_a"), col("id_b"), round(cont, 6).as("containment"))
  }

  /** MinHash + LSH near-dup pairs: `k` seeded affine slots
    * ([[Hashing.affine]]) over the shingle hashes, split into `bands`
    * bands whose slot minima hash to a bucket. Docs colliding in
    * ANY band become candidates (the kernel's (band, bucket)
    * self-join), verified by EXACT shingle Jaccard ≥ threshold. A pair
    * at similarity s becomes a candidate with probability
    * 1-(1-s^rows)^bands — with 8 bands × 4 rows, s=0.9 → 0.9998.
    * Nothing is O(n²).
    *
    * `bands = 0` (the default) plans the banding from the threshold
    * ([[bandPlan]]). Shingles and buckets are md5-hashed
    * ([[Hashing.Md5]]), which reproduces the EXACT candidate set in
    * plain SQL: that is what lets d02, d02_auto and d19 be
    * ORACLE-GATED rather than recall-tested.
    *
    * d02 and d02_auto are identical on EVERY input by construction:
    * both registry names make this same call at threshold 0.5, and
    * bandPlan(32, 0.5) = (8, 4) is computed from constants alone
    * (LlmOpsSpec pins it), so no input can move the banding. The
    * SimHash dial pair d03/d03_auto is in the same class: the
    * reported pairs are all pairs within the tolerance at every
    * banding ([[simhashPairsAuto]]; pinned by LlmOpsSpec "blocked
    * simhash banding reports identical pairs at every dial setting").
    */
  def minhashPairs(docs: DataFrame, n: Int, threshold: Double,
      k: Int = 32, bands: Int = 0): DataFrame = {
    val b = bandsFor(k, threshold, bands)
    // frozen: consumed by the signature pass AND both verify sides —
    // 4 corpus scans pre-freeze (Explain --execute audit)
    val sh = shingles(docs, n, Hashing.Md5).localCheckpoint(true)
    val keyed = bandRows(minhashSignatures(sh, k), k, b)
    jaccardPairs(BandedPairs.pairs(keyed, "doc_id", Seq("band", "bucket")),
      sh, sh, threshold)
  }

  /** MinHash FIDELITY report (d16): for every LSH candidate pair,
    * the signature-estimated Jaccard (matching slots / k — the
    * unbiased MinHash estimator) next to the exact set Jaccard, plus
    * a corpus MAE roll-up — the calibration artifact that justifies
    * a band/row dial before anyone trusts the estimator at scale
    * (the s11 eval discipline applied to dedup). Same plan as
    * [[minhashPairs]] through the candidate join; the only
    * additions are one k-term indicator sum per pair (candidate-
    * bounded) and an integer-scaled error roll-up (micro-units sum
    * exactly, so the mean is one double division — no float
    * summation order to disagree on).
    */
  def minhashFidelity(docs: DataFrame, n: Int,
      k: Int = 32, bands: Int = 8): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    val sh = shingles(docs, n, Hashing.Md5).localCheckpoint(true)
    // frozen like sh: 3 consumers (band buckets + both pair joins),
    // and at 32 longs/doc the signature frame is far smaller than
    // the shingle index already being checkpointed
    val sig = minhashSignatures(sh, k).localCheckpoint(true)
    val candidates = BandedPairs.pairs(bandRows(sig, k, bands),
      "doc_id", Seq("band", "bucket"))
    val matches = (0 until k).map(j =>
        when(element_at(col("siga"), j + 1) === element_at(col("sigb"), j + 1), 1)
          .otherwise(0))
      .reduce(_ + _)
    val per = candidates
      .join(sh.select(col("doc_id").as("id_a"), col("shingles").as("sa")), "id_a")
      .join(sh.select(col("doc_id").as("id_b"), col("shingles").as("sb")), "id_b")
      .join(sig.select(col("doc_id").as("id_a"), col("sig").as("siga")), "id_a")
      .join(sig.select(col("doc_id").as("id_b"), col("sig").as("sigb")), "id_b")
      .select(col("id_a"), col("id_b"),
        round(matches.cast(DoubleType) / k, 6).as("est_jaccard"),
        round(jaccard, 6).as("exact_jaccard"))
      .withColumn("abs_err",
        round(abs(col("est_jaccard") - col("exact_jaccard")), 6))
      .localCheckpoint(true) // pair-bounded; 2 consumers (rows + MAE)
    val mae = per
      .select((round(col("abs_err") * 1000000)).cast(LongType).as("err_u"))
      .agg(round(sum("err_u").cast(DoubleType)
        / (lit(1000000.0) * count(lit(1))), 6).as("mae"))
    per.unionByName(mae.select(lit(-1L).as("id_a"), lit(-1L).as("id_b"),
      lit(null).cast(DoubleType).as("est_jaccard"),
      lit(null).cast(DoubleType).as("exact_jaccard"),
      col("mae").as("abs_err")))
  }

  /** Threshold-driven LSH band planning (Mining of Massive Datasets
    * §3.4.3): with k signature slots split into b bands of r rows,
    * the capture S-curve 1−(1−j^r)^b has its midpoint at
    * (1/b)^(1/r) — the similarity where a pair is ~50% likely to
    * share a bucket. The planner picks the power-of-two r dividing k
    * whose midpoint lands closest to the verify threshold, so the
    * candidate budget is SPENT where the threshold is: a 0.25
    * threshold gets 16×2 (midpoint exactly 0.25), d02's 0.5 gets 8×4
    * (0.594), a 0.85 near-dup pass gets 4×8 (0.841). Fixing the
    * banding while the threshold moves — the naive alternative —
    * either floods the verify join with sub-threshold candidates
    * (bands too many) or silently loses recall (too few); at corpus
    * scale both failure modes are invisible without this dial. Any
    * pair sharing an r·2ⁱ-row band also shares its 2-row refinements,
    * so lowering the threshold only ever ADDS candidate coverage
    * (spec-pinned). Returns (bands, rows).
    */
  def bandPlan(k: Int, threshold: Double): (Int, Int) = {
    require(threshold > 0 && threshold < 1, "threshold in (0,1)")
    val r = (0 to 30).map(1 << _).filter(r => r <= k && k % r == 0)
      .minBy(r => math.abs(math.pow(1.0 / (k / r), 1.0 / r) - threshold))
    (k / r, r)
  }

  /** `bands`, or the [[bandPlan]] split when it is 0. */
  private def bandsFor(k: Int, threshold: Double, bands: Int): Int = {
    val b = if (bands == 0) bandPlan(k, threshold)._1 else bands
    require(k % b == 0, "bands must divide k")
    b
  }

  /** (doc_id, band, bucket) rows for a signature frame — the ONE
    * band/bucket definition, shared by every MinHash operator so the
    * in-memory and persisted-index band hashes can never drift apart
    * (d18/e23's increment==full-recompute parity and the DuckDB
    * oracles all assume they are byte-identical).
    */
  private def bandRows(sig: DataFrame, k: Int, bands: Int): DataFrame = {
    val rows = k / bands
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        Hashing.Md5.bucket((b * rows until (b + 1) * rows)
          .map(j => element_at(col("sig"), j + 1))).as("bucket")) }
    sig.select(col("doc_id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"),
        col("bk.bucket").as("bucket"))
  }

  /** One increment against a persisted (band, bucket) index: band
    * ONLY the batch, pair it with itself and the index, and verify
    * against shingles of the batch and of ONLY the `old` docs that
    * matched a bucket (a left-semi partner filter: point reads at
    * 100 TB, not a corpus scan). With `provenance`, each side's rows
    * name the label their pairs take: the batch's own pairs read
    * "new_vs_new" from the batch, index hits "new_vs_old" from the
    * index. Returns the batch's band rows and the verified pairs.
    */
  private def increment(batch: DataFrame, index: Option[DataFrame],
      old: Option[DataFrame], n: Int, threshold: Double, k: Int, bands: Int,
      provenance: Boolean): (DataFrame, DataFrame) = {
    val shNew = shingles(batch, n, Hashing.Md5).localCheckpoint(true)
    val newBands = bandRows(minhashSignatures(shNew, k), k, bands)
      .localCheckpoint(true) // consumed by both probes AND the append
    def tagged(df: DataFrame, label: String) =
      if (provenance) df.withColumn("provenance", lit(label)) else df
    val extra = if (provenance) Seq(col("provenance")) else Nil
    val cands = BandedPairs.pairs(tagged(newBands, "new_vs_new"), "doc_id",
        Seq("band", "bucket"), extra.map(_ => col("b.provenance")),
        index.map(tagged(_, "new_vs_old")))
      .localCheckpoint(true)
    val partnerIds = cands
      .select(explode(array(col("id_a"), col("id_b"))).as("doc_id")).distinct()
    val sh = old.fold(shNew)(o => shNew.unionByName(
      shingles(o.join(partnerIds, Seq("doc_id"), "left_semi"), n, Hashing.Md5)))
    (newBands, jaccardPairs(cands, sh, sh, threshold, extra))
  }

  /** INCREMENTAL MinHash-LSH (d18): maintain a persisted (band,
    * bucket) index and dedup each ARRIVING batch against it — the
    * near-dup sibling of [[incrementalAgainstDigests]]' exact Bloom
    * path. The corpus is never re-shingled: the increment (1) hashes
    * and signs ONLY the new batch, (2) finds candidates by probing
    * the index with a (band, bucket) equi-join — new×old — plus the
    * batch's self-join — new×new, (3) exact-verifies with shingle
    * sets computed for the new batch and ONLY the old docs that
    * actually matched a bucket, and (4) appends the batch's bands to
    * the index. Increment cost is O(batch + matches) regardless of
    * corpus size — re-running d02 per batch would be O(corpus) every
    * time, which is exactly what makes corpus-scale continuous ingest
    * unaffordable without an index.
    *
    * Same engine-portable hash family as [[minhashPairs]], so the
    * candidate set — hence the verified pair set — equals d02's
    * restricted to pairs with ≥1 new member, and the whole thing is
    * DuckDB-reproducible (oracle-gated).
    *
    * `bands = 0` (the default) derives the banding from the verify
    * threshold via [[bandPlan]] — the d19 planner as the family's
    * default dial (at the registered 0.5 the plan is 8×4, d02's dial
    * recovered).
    */
  def incrementalLshPairs(docs: DataFrame, isNew: Column, indexDir: String,
      n: Int, threshold: Double, k: Int = 32, bands: Int = 0): DataFrame = {
    val b = bandsFor(k, threshold, bands)
    val spark = docs.sparkSession
    val old = docs.filter(!isNew)

    // one-time index build over the pre-existing corpus (in steady
    // state this already sits on disk; built here so the entry is
    // self-contained and the index is genuinely READ BACK from files)
    bandRows(minhashSignatures(shingles(old, n, Hashing.Md5), k), k, b)
      .write.mode("overwrite").parquet(indexDir)

    // ---- the increment: O(new batch + matches) from here on ------
    val (newBands, verified) = increment(docs.filter(isNew),
      Some(spark.read.parquet(indexDir)), Some(old), n, threshold, k, b,
      provenance = true)

    // index maintenance: the batch's bands append; next increment
    // probes old ∪ this batch without touching either again
    newBands.write.mode("append").parquet(indexDir)
    val nIndexed = spark.read.parquet(indexDir)
      .select("doc_id").distinct().count()
    verified.unionByName(spark.range(1).select(
      lit(-1L).as("id_a"), lit(-1L).as("id_b"),
      lit(null).cast(DoubleType).as("jaccard"),
      lit(s"index_docs:$nIndexed").as("provenance")))
  }

  /** One CONTINUOUS-INGEST step over a persisted LSH index + doc
    * store (the repeatable core of [[incrementalLshPairs]], shaped
    * for a foreachBatch sink): dedupe the arriving batch against
    * everything ingested so far and RETURN exactly the new pairs —
    * each pair surfaces once, at the arrival of its LATER member, so
    * folding batches reconstructs the full-recompute pair set
    * partitioned by discovery time (spec-pinned). Redelivered docs
    * (same doc_id re-sent by an at-least-once source) are dropped by
    * an anti-join against the store's id set BEFORE any hashing —
    * without it a redelivery would re-emit its pairs and break the
    * exactly-once contract. Per step: O(batch + matches) hashing and
    * probing; the store is touched only for candidate partners'
    * shingles (left-semi point reads) and the id anti-join (at scale
    * a Bloom digest, IngestDedup's discipline).
    */
  def lshIngest(batch: DataFrame, storeDir: String, indexDir: String,
      n: Int, threshold: Double, k: Int = 32, bands: Int = 0): DataFrame = {
    // bands = 0 derives the split from the threshold (bandPlan, the
    // d19 planner as the default dial — incrementalLshPairs' rule).
    // NOTE for persisted indexes: the banding is an INDEX property —
    // every ingest step against the same indexDir must use the same
    // effective split, which holds as long as the threshold is fixed.
    val b = bandsFor(k, threshold, bands)
    val spark = batch.sparkSession
    // Hadoop-FS existence, not java.io.File: the store/index dirs
    // live on whatever warehouse filesystem the deployment uses — a
    // local-only check would treat a remote store as absent and
    // re-ingest everything as fresh
    def stored(dir: String): Option[DataFrame] = {
      val p = new org.apache.hadoop.fs.Path(dir)
      if (p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
        Some(spark.read.parquet(dir))
      else None
    }

    val store = stored(storeDir)
    val fresh = store.fold(batch)(s =>
      batch.join(s.select("doc_id"), Seq("doc_id"), "left_anti"))
    val (newBands, pairs) = increment(fresh, stored(indexDir), store, n,
      threshold, k, b, provenance = false)
    val out = pairs.localCheckpoint(true) // pin results BEFORE the state appends

    // COMMIT DISCIPLINE: index first, store LAST. The store append is
    // the commit marker — a doc is in the store iff its batch ran to
    // completion (pairs returned). A crash between the two appends
    // leaves the batch fresh on retry, so the retry re-emits its pairs
    // (the failed attempt never returned them) with its own leftover
    // bands already in the index: the kernel's own-id guard on index
    // probes drops the resulting self-matches, its least/greatest fold
    // + distinct() fold the in-batch pairs seen through BOTH the index
    // and the self-join to one row, and the duplicate index rows are
    // candidate-level deduped forever after. The reverse order (store
    // first) would turn the same crash into silent recall loss: the
    // retry drops the docs as already-ingested while their bands never
    // reached the index, so every future pair against them is lost.
    newBands.write.mode("append").parquet(indexDir)
    fresh.select("doc_id", "text").write.mode("append").parquet(storeDir)
    out
  }

  /** Block counts the auto dial may pick: divisors of 60 > maxDist,
    * capped at 12 (C(12,3)=220 index rows per doc is the largest
    * explode worth trading for key width; past its reach you shard
    * the corpus, not the fingerprint).
    */
  private val simhashBlockChoices = Seq(4, 6, 10, 12)

  private def choose(n: Int, k: Int): Long =
    (1 to k).foldLeft(1L)((acc, i) => acc * (n - i + 1) / i)

  /** The SimHash banding dial: how many blocks to split the 60-bit
    * fingerprint into, given the corpus size. The 4-block pigeonhole
    * (d03's compare-scale form) keys tables on ONE 15-bit block, so
    * random (birthday) collisions grow as n²/2¹⁵ — measured 78×
    * candidate volume at the 10× corpus; a 100 TB scale-killer even
    * though hamming-≤3 recall is perfect. Manku/Jain/Das Sarma (WWW
    * 2007, the Google near-dup system) fix: with tolerance t, a pair
    * within hamming t agrees on some (b−t)-subset of blocks, so key
    * each table on a FULL (b−t)-subset — C(b,t) tables of
    * 60·(b−t)/b-bit keys. More tables, exponentially fewer random
    * collisions; the reported pairs are IDENTICAL (superset of
    * candidates + the same exact hamming filter). Smallest b whose
    * expected random collisions stay ≤ ~1 per doc wins:
    * n=5e3 → 4 (today's form), n=1e6 → 6, n=1e9 → 10, n=1e12 → 12.
    */
  def simhashBlocks(corpusCount: Long, maxDist: Int = 3): Int =
    simhashBlockChoices.filter(_ > maxDist).find { b =>
      val keyBits = 60.0 * (b - maxDist) / b
      choose(b, maxDist) * corpusCount.toDouble / math.pow(2.0, keyBits) <= 1.0
    }.getOrElse(simhashBlockChoices.last)

  /** SimHash near-dup pairs: EVERY pair of docs whose 60-bit md5
    * fingerprints lie within hamming `maxDist`, with its distance.
    * Candidates share a pigeonhole table key ([[Hashing.blockKeys]]:
    * `blocks` blocks, one table per (blocks − maxDist)-subset), which
    * certifies `blocks > maxDist` only (required): a pair at hamming 4
    * with one bit flipped in each of 4 blocks shares no key. The
    * candidates carry both fingerprints through the kernel's distinct,
    * so the exact hamming = bit_count(xor) needs no payload re-join.
    * The md5 shingle hash ([[Hashing.Md5]]) reproduces in plain SQL,
    * so d03 is ORACLE-GATED.
    *
    * `blocks = None` is the FIXED compare-scale form: 4 blocks, so at
    * maxDist 3 each table keys on one block and random (birthday)
    * collisions grow as n²/2^(bits/4) — it refuses corpus-sized input
    * and points at [[simhashPairsAuto]]. `Some(b)` sets the banding
    * explicitly, ungated — the auto dial's path.
    */
  def simhashPairs(docs: DataFrame, n: Int, maxDist: Int = 3,
      blocks: Option[Int] = None): DataFrame = {
    val keys = Hashing.blockKeys(col("simhash"), Hashing.Md5.bits,
      blocks.getOrElse(4), maxDist)
    // frozen: both sides of the key self-join re-derive the
    // fingerprints (2 corpus scans pre-freeze); (doc_id, simhash) is
    // two columns per doc — the cheapest possible materialization
    val fp = simhashes(shingles(docs, n, Hashing.Md5), Hashing.Md5)
      .localCheckpoint(true)
    if (blocks.isEmpty) Gate.check(fp, 65536L,
      "Dedup.simhashPairs (single-block pigeonhole)", "Dedup.simhashPairsAuto")
    val keyed = fp.select(col("doc_id"), col("simhash"), inline(keys))
    val hamming = Hashing.hamming(col("ha"), col("hb"))
    BandedPairs.pairs(keyed, "doc_id", Seq("ti", "kv"),
        Seq(col("a.simhash").as("ha"), col("b.simhash").as("hb")))
      .filter(hamming <= maxDist)
      .select(col("id_a"), col("id_b"), hamming.as("hamming"))
  }

  /** The production SimHash entry point: the banding dial derived from
    * one corpus count() (the same one-count discipline as the
    * d05/d10/s05 auto dials). Output is identical to the fixed form —
    * every pair with hamming ≤ maxDist at every banding — which is why
    * the auto dial shares d03's DuckDB oracle instead of settling for
    * recall specs.
    */
  def simhashPairsAuto(docs: DataFrame, n: Int, maxDist: Int = 3): DataFrame =
    simhashPairs(docs, n, maxDist, Some(simhashBlocks(docs.count(), maxDist)))

  /** Public fingerprint view: (doc_id, 64-bit xxhash64-family simhash). */
  def simhashFingerprints(docs: DataFrame, n: Int): DataFrame =
    simhashes(shingles(docs, n, Hashing.Xx64), Hashing.Xx64)

  /** SPAN-level duplicate detection (the substring-dedup idea of
    * Lee et al., "Deduplicating Training Data Makes Language Models
    * Better", ACL 2022, re-expressed relationally): report document
    * pairs sharing a contiguous run of at least `minSpan` tokens,
    * with the length of the longest shared run. Where d04/d02 score
    * whole-document set similarity, this finds LOCAL duplication —
    * boilerplate headers, quoted passages, license blocks — that
    * document-level Jaccard dilutes away.
    *
    * Plan shape: every `w`-token window is folded to xxhash64 at the
    * tokenize scan (8-byte keys from then on); candidate pairs come
    * from the inverted window index (equi-join on the window hash,
    * DF-capped like d04's shingle index so template boilerplate
    * cannot go quadratic); each pair's shared window occurrences are
    * then grouped into consecutive runs ALONG A DIAGONAL
    * (pos_a − pos_b constant) with the pos − row_number() trick —
    * one window function partitioned by (pair, diagonal), so the run
    * measurement shuffles on the pair key, never on the corpus. A
    * diagonal run of r windows means r consecutive windows match at
    * the SAME offset in both documents — only that certifies a shared
    * contiguous span of r + w − 1 tokens (runs in one document alone
    * over-certify on periodic text, where many positions of A match
    * one short window of B).
    *
    * `maxRep` caps a window's occurrences WITHIN a document before
    * the position join (degenerate periodic runs — 10k repeated
    * separator tokens — would otherwise square in the occurrence
    * pairing; such windows carry no span information anyway).
    */
  def spanPairs(docs: DataFrame, w: Int, minSpan: Int,
      maxDf: Long = Long.MaxValue, maxRep: Long = Long.MaxValue): DataFrame = {
    require(minSpan >= w, "a shared span shorter than one window is unobservable")
    val toks = docs
      .select(col("doc_id"), explode(array(Text.tokens(col("text")))).as("t"))
      .filter(size(col("t")) >= w)
    // (doc_id, pos, h): 1-based window start position -> window hash
    val winsAll = toks.select(col("doc_id"),
        posexplode(transform(sequence(lit(1), size(col("t")) - (w - 1)),
          i => xxhash64(concat_ws(" ", slice(col("t"), i, lit(w))))))
          .as(Seq("pos0", "h")))
      .select(col("doc_id"), (col("pos0") + 1).as("pos"), col("h"))
    val wReps = Window.partitionBy("doc_id", "h")
    // frozen: the rep-filtered window index feeds the distinct view,
    // BOTH position joins, and (via kept) both candidate sides — the
    // worst multi-scan in the repo pre-freeze (Explain --execute: 12
    // corpus scans / 24 explodes). One materialized (doc, pos, h)
    // index; everything downstream re-reads it, never the corpus.
    val wins = winsAll
      .withColumn("rep", count(lit(1)).over(wReps))
      .filter(col("rep") <= maxRep).drop("rep")
      .localCheckpoint(true)
    val dw = wins.select("doc_id", "h").distinct()
    // hot-window stop list: only keys with DF > maxDf — tiny, broadcasts
    val hot = dw.groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf).select("h")
    val kept = dw.join(broadcast(hot), Seq("h"), "left_anti")
    val pairs = kept.as("a")
      .join(kept.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"), col("a.h"))
    // every shared occurrence pairing, with BOTH positions
    // frozen: the run-grouping and the shared-window count below both
    // consume the full occurrence pairing — without the freeze each
    // re-runs the two position joins (size bounded by maxDf·maxRep²
    // per window key, the operator's quadratic guard)
    val posAB = pairs
      .join(wins.select(col("doc_id").as("id_a"), col("pos").as("pos_a"), col("h")),
        Seq("id_a", "h"))
      .join(wins.select(col("doc_id").as("id_b"), col("pos").as("pos_b"), col("h")),
        Seq("id_b", "h"))
      .select("id_a", "id_b", "pos_a", "pos_b").distinct()
      .localCheckpoint(true)
    val spans = posAB
      .withColumn("diag", col("pos_a") - col("pos_b"))
      .withColumn("grp", col("pos_a") - row_number().over(
        Window.partitionBy("id_a", "id_b", "diag").orderBy("pos_a")))
      .groupBy("id_a", "id_b", "diag", "grp")
      .agg(count(lit(1)).as("runlen"))
      .groupBy("id_a", "id_b")
      .agg((max("runlen") + (w - 1)).as("longest_span"))
    val shared = posAB.groupBy("id_a", "id_b")
      .agg(countDistinct("pos_a").as("n_shared_windows"))
    shared.join(spans, Seq("id_a", "id_b"))
      .filter(col("longest_span") >= minSpan)
      .select("id_a", "id_b", "n_shared_windows", "longest_span")
  }

  /** Content-defined chunking (Muthitacharoen et al., LBFS SOSP'01 —
    * the Rabin-fingerprint chunking behind every large-scale dedup
    * store), at token granularity: a chunk boundary falls AFTER token
    * p iff the hash of the trailing `window`-token context ≡ 0
    * (mod `divisor`). Boundaries depend only on LOCAL content, so an
    * edit near the head re-aligns within about one chunk instead of
    * shifting every fixed-width chunk after it (d07's failure mode on
    * edited near-dups). Expected chunk length ≈ `divisor` tokens.
    *
    * Plan shape: one explode scan, two windows over (doc_id, pos) —
    * the trailing context via lag, chunk ids via a shifted running
    * sum (the e02 prefix-sum idiom) — then one group per chunk.
    * Every window partitions by doc_id; nothing is corpus-wide.
    *
    * `portableHash = true` swaps xxhash64 for the engine-portable md5
    * family ([[Hashing.Md5]], d02/d03's shingle hash), so the EXACT
    * chunk boundaries — and hence the whole keep-first result —
    * reproduce in plain SQL. That is what lets d13 be oracle-gated; the
    * xxhash64 family (one integer hash per token instead of an md5)
    * keeps the insertion-robustness spec.
    */
  def cdcChunks(docs: DataFrame, window: Int = 3, divisor: Int = 8,
      portableHash: Boolean = false): DataFrame = {
    require(window >= 1 && divisor >= 2)
    val toks = docs.select(col("doc_id"),
      posexplode(split(lower(col("text")), "\\s+")).as(Seq("pos", "tok")))
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val ctx = concat_ws(" ",
      ((window - 1) to 0 by -1).map(i => lag(col("tok"), i).over(w)): _*)
    val ctxHash = (if (portableHash) Hashing.Md5 else Hashing.Xx64).shingle(ctx)
    // a token can only cut once a full context exists behind it
    val cut = when(col("pos") >= window - 1 &&
      pmod(ctxHash, lit(divisor.toLong)) === 0, 1).otherwise(0)
    // chunk id = cuts strictly BEFORE this token (a cutting token
    // closes its own chunk): running sum shifted one row back
    val chunkId = coalesce(
      sum(col("__cut")).over(w.rowsBetween(Window.unboundedPreceding, -1)),
      lit(0L))
    toks.withColumn("__cut", cut)
      .withColumn("chunk_id", chunkId)
      .groupBy("doc_id", "chunk_id")
      .agg(min("pos").as("start_pos"), count(lit(1)).as("n_tokens"),
        concat_ws(" ",
          transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
            x => x.getField("tok"))).as("chunk_text"))
      .withColumn("chunk_hash", md5(col("chunk_text").cast(BinaryType)))
      .select("doc_id", "chunk_id", "start_pos", "n_tokens",
        "chunk_hash", "chunk_text")
  }

  /** EXACT-SUBSTRING SCRUB (Lee et al. 2022 "Deduplicating Training
    * Data Makes Language Models Better", §4 ExactSubstr): remove the
    * duplicated SPANS from later documents, keep the rest — the
    * complement of spanPairs, which only REPORTS shared spans.
    *
    * Semantics: any `w`-token window that also occurs in an EARLIER
    * document (cross-doc, keep-first at doc granularity; within-doc
    * repetition is x12's signal, not scrubbed here) marks its `w`
    * positions covered; the cleaned text is the uncovered tokens in
    * original order.
    *
    * Scale shape — the property that makes this the 100 TB plan:
    * coverage needs only each window's MIN doc_id and membership,
    * never candidate PAIRS. One hash agg on the window digest + one
    * join back is LINEAR in total windows; a boilerplate window
    * shared by a million docs costs one aggregate row, the exact
    * case that forces DF caps and stop-lists in spanPairs /
    * containmentPairs. Downstream: covered-position DISTINCT,
    * (doc, pos) anti-join, per-doc regroup — all key-partitioned
    * shuffles, nothing quadratic.
    *
    * Output: (doc_id, n_tokens, n_removed, clean_hash) where
    * clean_hash = md5 of the space-joined surviving tokens (md5 of
    * the empty string when everything was scrubbed).
    */
  def exactSubstrScrub(docs: DataFrame, w: Int): DataFrame =
    exactSubstrScrubImpl(docs, w, fastHash = false)

  /** The production dial of [[exactSubstrScrub]]: window keys come
    * from plans/WindowHashes — one codegen'd rolling pass per doc,
    * 8-byte LongType keys instead of per-position md5 strings, which
    * shrinks the window-index shuffle ~4× and skips the w-token
    * string copies. 64-bit-birthday collisions are the trade
    * (~n²/2⁶⁵ spurious window matches); the md5 form stays the
    * registered oracle-exact path. LlmOpsSpec pins the two paths
    * row-identical on the compare corpus.
    */
  def exactSubstrScrubFast(docs: DataFrame, w: Int): DataFrame =
    exactSubstrScrubImpl(docs, w, fastHash = true)

  private def exactSubstrScrubImpl(docs: DataFrame, w: Int,
      fastHash: Boolean): DataFrame = {
    require(w >= 2, "window must cover at least 2 tokens")
    // frozen: three consumers (window stream, token stream, per-doc
    // base) — without the freeze each re-splits the corpus
    val toks = docs
      .select(col("doc_id"), split(lower(col("text")), " ").as("t"))
      .localCheckpoint(true)
    // the window stream feeds BOTH the min-doc agg and the join back.
    // Deliberately RECOMPUTED, not frozen: exchange reuse cannot fire
    // (the agg's map-side partial aggregation sits below its shuffle,
    // so the two exchanges have different children), and the stream
    // is a NARROW explode+md5 off the already-frozen toks — cheaper
    // to run twice than to spill a larger-than-input intermediate
    // (measured at sf0.1: recompute 3.95 s vs checkpoint 6.37 s, and
    // at 100 TB the checkpoint write is the worse trade by more)
    val wins =
      if (fastHash)
        toks.filter(size(col("t")) >= w)
          .select(col("doc_id"), posexplode(
              graft.plans.HashExpressions.windowHashes(col("t"), w))
            .as(Seq("p0", "win")))
          .select(col("doc_id"), (col("p0") + 1).as("pos"), col("win"))
      else
        toks.filter(size(col("t")) >= w)
          .select(col("doc_id"),
            explode(sequence(lit(1), size(col("t")) - (w - 1))).as("pos"), col("t"))
          .select(col("doc_id"), col("pos"),
            md5(concat_ws(" ", slice(col("t"), col("pos"), lit(w)))
              .cast(BinaryType)).as("win"))
    val fw = wins.groupBy("win").agg(min("doc_id").as("first_doc"))
    val cov = wins.join(fw, "win")
      .filter(col("doc_id") > col("first_doc"))
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + (w - 1))).as("i"))
      .distinct()
    val tok = toks.select(col("doc_id"), posexplode(col("t")).as(Seq("p0", "tok")))
      .select(col("doc_id"), (col("p0") + 1).as("i"), col("tok"))
    scrubReport(toks, tok.join(cov, Seq("doc_id", "i"), "left_anti"), "i")
  }

  /** The scrub output (see [[exactSubstrScrub]]) of split docs `toks`
    * (doc_id, t) of which the tokens `kept` (doc_id, `pos`, tok) survive.
    */
  private def scrubReport(toks: DataFrame, kept: DataFrame, pos: String): DataFrame = {
    val cl = kept.groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        md5(array_join(transform(
            sort_array(collect_list(struct(col(pos), col("tok")))),
            s => s.getField("tok")), " ").cast(BinaryType)).as("clean_hash"))
    toks.select(col("doc_id"), size(col("t")).cast(LongType).as("n_tokens"))
      .join(cl, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L)))
          .cast(LongType).as("n_removed"),
        coalesce(col("clean_hash"), md5(lit("").cast(BinaryType)))
          .as("clean_hash"))
  }

  /** SUFFIX-ARRAY-STYLE EXACT-SUBSTRING SCRUB (d20 — Lee et al. 2022
    * ExactSubstr's actual construction, via DISTRIBUTED PREFIX
    * DOUBLING): remove from later documents every token span of
    * length ≥ `minSpan` that also occurs earlier, EXACTLY —
    * [[exactSubstrScrub]]'s window hashes admit ~n²/2⁶⁴ false
    * coverage from digest collisions; here window equality is decided
    * by EQUALITY CLASSES built with the suffix-array doubling
    * recurrence, so two positions share a class iff their token
    * sequences are IDENTICAL. No hashing anywhere in the decision
    * path, no hash-width dial to reason about at 100 TB.
    *
    * Construction: rank_h(d,p) identifies the h-token sequence at
    * position p — rank_1 classes tokens, and rank_2h(d,p) classes the
    * pair (rank_h(d,p), rank_h(d,p+h)) — the Manber-Myers doubling
    * step, except no ORDER is ever needed (only equality), so each
    * level's class code is simply the class's minimum (doc,pos)
    * address: injective, deterministic, and computed per level with
    * ONE map-side-combining groupBy min joined back on the class key
    * (never a window — see coded() for the token-skew rationale)
    * instead of a global dense-rank. A length-W window
    * equality test then composes ranks along W's binary decomposition
    * (50 = 32+16+2 ⇒ the triple (r32(p), r16(p+32), r2(p+48)) is
    * equal iff the 50-token windows are equal — exact, by
    * construction). Keep-first coverage and the cleaned-text rebuild
    * mirror [[exactSubstrScrub]]: a window occurrence in a doc later
    * than its class's first doc covers its positions; coverage
    * propagates per doc with ONE running-max window (start+W−1
    * reach), never a W-times position explode.
    *
    * Scale shape: log₂(minSpan) doubling levels, each a (doc,pos)
    * equi-join plus a class-key groupBy min joined back — linearithmic total shuffle
    * volume in corpus tokens (metered in the bench ring), nothing
    * super-linear, no corpus-sized collect. Positions never cross
    * documents (the join key is (doc_id, pos)), so no separator
    * machinery and no global offsets are needed.
    */
  def suffixSpanScrub(docs: DataFrame, minSpan: Int = 50): DataFrame = {
    require(minSpan >= 2 && minSpan < (1 << 20), "span must be >= 2 tokens")
    val posCap = 1L << 20
    val toks = docs
      .select(col("doc_id"), split(lower(col("text")), " ").as("t"))
      .localCheckpoint(true)
    // the (doc_id, pos) address packing below is injective ONLY while
    // every doc stays token-addressable under posCap — past it, two
    // distinct equality classes could alias one class code and tokens
    // would be silently mis-scrubbed, the exact corruption mode this
    // operator's no-hash contract exists to exclude. Enforce, don't
    // assume (one max() agg over the already-frozen frame; a 2^20
    // -token doc is a ~10 MB pathology to route to a chunking stage,
    // not a corpus row).
    val stats = toks.agg(max(size(col("t"))).as("max_len"),
      min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"),
      sum(size(col("t")).cast(LongType)).as("n_tok")).head()
    val maxLen = stats.getInt(0)
    require(maxLen < posCap,
      s"suffixSpanScrub: a document has $maxLen tokens, past the " +
        s"$posCap-token addressing bound — chunk oversized docs (d07/" +
        "x33) before span-scrubbing them")
    // doc_id magnitude is the OTHER half of the packing's injectivity:
    // doc_id*2^20 overflows Long past 2^43 (hash-derived 64-bit ids,
    // negative ids), silently aliasing two distinct classes — the
    // same corruption mode the length check excludes. Same frozen
    // frame, same single agg.
    val (minId, maxId) = (stats.getLong(1), stats.getLong(2))
    require(minId >= 0L && maxId < (Long.MaxValue >> 20),
      s"suffixSpanScrub: doc_id range [$minId, $maxId] breaks the " +
        s"(doc_id << 20 | pos) address packing (need 0 <= doc_id < 2^43) " +
        "— densify ids (zipWithIndex / row_number over a stable key) " +
        "before span-scrubbing")
    val tok = toks.select(col("doc_id"),
      posexplode(col("t")).as(Seq("pos", "tok")))
    // nTok rides the SAME stats aggregate as the packing guards — no
    // separate corpus-wide count job just to size the hot-class cut
    val nTok = stats.getLong(3)
    val hotCut = math.max(1L, 2L * nTok /
      docs.sparkSession.sessionState.conf.numShufflePartitions)
    // Per-class aggregate joined back onto the corpus frame, SKEW-SAFE
    // BY CONSTRUCTION. Neither a window min (every occurrence of a hot
    // key buffers on one task — at corpus scale "the" at ~3-5% of all
    // positions is a single multi-TB reduce) nor a naive groupBy+join
    // (the agg flattens map-side, but the join-back re-shuffles the
    // probe side on the same hot key — and AQE's skew split cannot
    // rescue it, because OptimizeSkewedJoin only matches plain
    // shuffle-read join children, not an aggregate fused under the
    // join; measured in the d20 skew spec). So the skew is handled
    // structurally: classes whose occurrence count exceeds twice a
    // partition's even share are BROADCAST (there can be at most
    // numShufflePartitions/2 of them — partitions-bounded, a few MB
    // at any scale) and resolved map-side with zero shuffle of their
    // rows; the residual shuffle join carries only sub-cut classes,
    // skew-free by definition of the cut. The two probe branches
    // share every exchange (ReuseExchange), so shuffle volume does
    // not grow.
    def classJoin(df: DataFrame, keys: Seq[String], agg: Column,
        outName: String): DataFrame = {
      val codes = df.groupBy(keys.map(col): _*)
        .agg(agg.as(outName), count(lit(1)).as("__n"))
      val hot = codes.filter(col("__n") > hotCut).drop("__n")
      val cold = codes.filter(col("__n") <= hotCut).drop("__n")
      val tagged = df.join(broadcast(hot), keys, "left")
      tagged.filter(col(outName).isNotNull)
        .unionByName(tagged.filter(col(outName).isNull)
          .drop(outName).join(cold, keys))
    }
    // class code = min (doc,pos) address over the equality class —
    // injective across classes (each address lives in one class)
    def coded(df: DataFrame, keys: Seq[String]): DataFrame =
      classJoin(df, keys, min(col("doc_id") * posCap + col("pos")), "r")
        .select(col("doc_id"), col("pos"), col("r"))
    def doubleUp(r: DataFrame, h: Int): DataFrame = {
      val shifted = r.select(col("doc_id"), (col("pos") - h).as("pos"),
        col("r").as("rb"))
      coded(r.join(shifted, Seq("doc_id", "pos"))
        .withColumnRenamed("r", "ra"), Seq("ra", "rb"))
    }
    // rank frames at every power of two up to the highest bit of W.
    // Each level is FROZEN: it feeds the next level TWICE (both join
    // sides) and possibly the composed key — unfrozen, the plan would
    // double per level (2^levels copies of the base scan) and the
    // linearithmic claim would be a lie at the optimizer level
    val topBit = 63 - java.lang.Long.numberOfLeadingZeros(minSpan.toLong)
    // W's binary decomposition — the levels the composed key reads
    // LATER; every other level is dead the moment its successor is
    // frozen (computed up front so the build loop can free them)
    val parts = (topBit.to(0, -1)).filter(b => (minSpan & (1 << b)) != 0)
    // level frames freeze SERIALIZED (MEMORY_AND_DISK_SER): each is
    // read back at most three times (the next level's two join sides
    // + possibly the composed key), and at 10×-corpus scale the
    // deserialized default held one UnsafeRow OBJECT per token in the
    // BlockManager — the per-object + GC overhead, not the joins, is
    // what the scale probe was timing
    val lvlStore = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER
    val levels = scala.collection.mutable.Map[Int, DataFrame](
      0 -> coded(tok, Seq("tok")).localCheckpoint(true, lvlStore))
    (1 to topBit.toInt).foreach { b =>
      levels(b) = doubleUp(levels(b - 1), 1 << (b - 1))
        .localCheckpoint(true, lvlStore)
      // level b−1 has now fed its successor (eagerly materialized);
      // if the composed key never reads it, DROP its blocks — holding
      // every level alive kept ~2× the corpus tokens pinned in the
      // BlockManager for the whole job, and at 10× corpus scale that
      // dead weight (not the joins) was the superlinear term: the
      // tail levels ran against an exhausted heap (spill + GC)
      if (!parts.contains(b - 1)) {
        org.apache.spark.sql.graftbridge.RddBridge
          .unpersistCheckpoint(levels(b - 1))
        levels.remove(b - 1); ()
      }
    }
    val (composed, _) = parts.zipWithIndex.drop(1)
      .foldLeft((levels(parts.head).withColumnRenamed("r", "k0"), 1 << parts.head)) {
        case ((acc, off), (b, i)) =>
          val s = levels(b).select(col("doc_id"),
            (col("pos") - off).as("pos"), col("r").as(s"k$i"))
          (acc.join(s, Seq("doc_id", "pos")), off + (1 << b))
      }
    val keyCols = parts.indices.map(i => s"k$i")
    // same skew discipline as coded(): a corpus-wide boilerplate
    // window (one W-token banner on every page) is a hot composed
    // key, and first_doc per class needs the broadcast-head treatment
    // just like the class codes do
    val dupStarts = classJoin(composed, keyCols,
        min(col("doc_id")), "first_doc")
      .filter(col("doc_id") > col("first_doc"))
      .select(col("doc_id"), col("pos"),
        (col("pos") + (minSpan - 1)).as("reach"))
    // per-doc running max of covered reach — linear coverage, no
    // minSpan-times explode
    val wcov = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val kept = tok.join(dupStarts, Seq("doc_id", "pos"), "left")
      .withColumn("covered",
        max(col("reach")).over(wcov) >= col("pos"))
      .filter(!coalesce(col("covered"), lit(false)))
    scrubReport(toks, kept, "pos")
  }

  /** SORTED-NEIGHBORHOOD dedup (Hernández & Stolfo's merge/purge,
    * SIGMOD'95): sort the corpus by a normalized blocking key and
    * compare each record only to its `window - 1` successors in sort
    * order. The candidate volume is n·(window−1) BY CONSTRUCTION —
    * linear in the corpus with no recall dial to tune — which makes
    * SNM the classic alternative to LSH when near-dups share long
    * normalized prefixes (crawl re-fetches, boilerplate-prefixed
    * mirrors) and the pair budget must be exact, not probabilistic.
    *
    * Scale shape: a GLOBAL row_number would collapse to one
    * partition, so global positions come from the x16 two-phase
    * prefix-sum discipline instead — rank within a key-prefix bucket
    * (parallel window, one shuffle on the bucket) plus a broadcast
    * carry-in of preceding-bucket counts (the bucket-count frame is
    * alphabet-bounded: ≤ 37 rows at `bucketLen` = 1; lengthen the
    * prefix at corpus scale for narrower buckets). Neighbor pairing
    * is ONE equi-join on position after exploding the `window - 1`
    * deltas — shuffle on an integer key, no range join, no
    * self-cartesian. Exact word-set Jaccard verifies candidates only.
    */
  def sortedNeighborhoodPairs(docs: DataFrame, window: Int = 3,
      keyLen: Int = 24, threshold: Double = 0.5,
      bucketLen: Int = 1): DataFrame = {
    require(window >= 2, "sorted-neighborhood window must be >= 2")
    require(bucketLen >= 1 && bucketLen <= 8, "bucketLen out of range")
    val keyed = docs.select(col("doc_id"),
        substring(regexp_replace(lower(col("text")), "[^a-z0-9]", ""),
          1, keyLen).as("key"))
      .withColumn("bucket", substring(col("key"), 1, bucketLen))
      // frozen: feeds BOTH the offsets aggregate and the rank window —
      // without the freeze each consumer re-scans and re-normalizes
      // the corpus (the Explain --audit read 6 file scans; 2 remain:
      // this narrow key projection and the token-set projection)
      .localCheckpoint(true)
    // bucket offsets: alphabet-bounded frame (≤ 37^bucketLen rows —
    // 37 at the default, ~1.4k at bucketLen 2), so the unpartitioned
    // running-sum window stays driver-trivial by construction
    val offsets = keyed.groupBy("bucket").agg(count(lit(1)).as("cnt"))
      .withColumn("offset",
        coalesce(sum("cnt").over(Window.orderBy("bucket")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("bucket", "offset")
    // sorting by (bucket, key) == sorting by key: the bucket is a
    // prefix of the key, and both engines compare [a-z0-9] strings
    // bytewise, so per-bucket rank + carry-in IS the global position
    val pos = keyed.join(broadcast(offsets), "bucket")
      .withColumn("pos", row_number().over(
        Window.partitionBy("bucket").orderBy("key", "doc_id"))
        .cast(LongType) + col("offset"))
      .select(col("doc_id"), col("pos"))
      // frozen: both sides of the neighbor equi-join read it
      .localCheckpoint(true)
    val cand = pos.select(col("doc_id").as("da"), col("pos"))
      .withColumn("delta", explode(sequence(lit(1), lit(window - 1))))
      .withColumn("jpos", col("pos") + col("delta"))
      .join(pos.select(col("doc_id").as("db"), col("pos").as("jpos")),
        "jpos")
      .select(least(col("da"), col("db")).as("id_a"),
        greatest(col("da"), col("db")).as("id_b"))
    val sets = docs.select(col("doc_id"),
      array_remove(array_distinct(split(lower(col("text")), " ")), "")
        .as("toks"))
      // frozen: the id_a and id_b verify joins both read the token
      // sets — ONE tokenize scan instead of two corpus passes
      .localCheckpoint(true)
    cand
      .join(sets.select(col("doc_id").as("id_a"), col("toks").as("ta")),
        "id_a")
      .join(sets.select(col("doc_id").as("id_b"), col("toks").as("tb")),
        "id_b")
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("ta"), col("tb"))).cast(LongType)
          .as("inter"),
        (size(col("ta")) + size(col("tb"))).cast(LongType)
          - size(array_intersect(col("ta"), col("tb"))).cast(LongType))
      .toDF("id_a", "id_b", "inter", "uni")
      .filter(col("uni") > 0 &&
        col("inter").cast(DoubleType) / col("uni") >= threshold)
      .select(col("id_a"), col("id_b"),
        round(col("inter").cast(DoubleType) / col("uni"), 6).as("jaccard"))
  }

  /** The occupancy-held dial of [[sortedNeighborhoodPairs]] —
    * bucketLen grows with the corpus so the per-bucket rank window
    * (the only sort in the plan, one partition per bucket) stays at
    * ~5k rows however big the corpus: the same occupancy discipline
    * as the d03/d05/d10 auto dials. The OUTPUT is bucketing-invariant
    * by construction (the bucket is a key prefix, so per-bucket rank
    * + carry-in IS the global position at any bucketLen), which is
    * why the auto entry hash-gates against d17's own oracle. One
    * count() scan buys the dial — the same corpus-count pattern the
    * other auto dials pay.
    */
  def sortedNeighborhoodPairsAuto(docs: DataFrame, window: Int = 3,
      keyLen: Int = 24, threshold: Double = 0.5): DataFrame = {
    val n = docs.count()
    val bucketLen = math.min(8, math.max(1,
      math.ceil(math.log(math.max(1.0, n / 5000.0)) / math.log(36.0)).toInt))
    sortedNeighborhoodPairs(docs, window, keyLen, threshold, bucketLen)
  }

}
