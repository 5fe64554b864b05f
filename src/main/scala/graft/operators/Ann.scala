package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Vectors

/** Similarity search over an embeddings table
  * (vec_id, embedding array<float>).
  *
  * `brute` is the exact baseline (and the oracle for recall);
  * `lsh` is the scale path: sign-random-projection buckets bound the
  * candidate set, exact cosine re-ranks only candidates.
  */
object Ann {

  /** (vec_id, v double[], nrm) — norms computed once per row. */
  private[graft] def normed(emb: DataFrame): DataFrame = {
    val v = Vectors.toDouble(col("embedding"))
    emb.select(col("vec_id"), v.as("v")).withColumn("nrm", Vectors.norm(col("v")))
  }

  /** Exact top-k cosine neighbors for each query vector. The query
    * side broadcasts (queries ≪ corpus); the corpus side streams —
    * each corpus partition scores its rows against every query, then
    * a per-query top-k window runs over the k·|queries|-bounded
    * survivors. For large |queries| swap the broadcast for a
    * block-partitioned matrix product.
    */
  def brute(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = normed(queries).select(col("vec_id").as("query_id"),
      col("v").as("qv"), col("nrm").as("qn"))
    val c = normed(corpus)
    val scored = c.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        Vectors.cosine(col("qv"), col("v"), col("qn"), col("nrm")).as("cos"))
    topK(scored, k)
  }

  /** Exact RADIUS (threshold) search: every corpus vector with cosine
    * >= minCos of each query — the retrieval mode where the answer
    * size is data-dependent (dedup sweeps, recall-complete retrieval)
    * and a top-k cutoff would silently truncate. Same broadcast-
    * queries / streaming-corpus shape as [[brute]]: ONE corpus pass
    * scores all |Q| queries, and because there is no rank, no window
    * runs at all — the threshold filter is map-side, so output is the
    * only shuffle-free cost. The filter lands on the ROUNDED cosine
    * so engines decide boundary pairs identically (the s07 lesson).
    * Scale dial: for corpus-sized query sets use the d05 LSH-bucket
    * candidate path; this exact form is for query sets that fit a
    * broadcast.
    */
  def rangeSearch(queries: DataFrame, corpus: DataFrame,
      minCos: Double): DataFrame = {
    val q = normed(queries).select(col("vec_id").as("query_id"),
      col("v").as("qv"), col("nrm").as("qn"))
    val c = normed(corpus)
    c.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(Vectors.cosine(col("qv"), col("v"), col("qn"), col("nrm")), 6)
          .as("cosine"))
      .filter(col("cosine") >= minCos)
  }

  /** Exact top-k by raw inner product — MIPS, the retrieval mode for
    * unnormalized embedding stores (recommenders, reward models),
    * where magnitude carries signal and cosine is the wrong order.
    * Same broadcast-queries / streaming-corpus shape as `brute`.
    */
  def bruteMips(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"),
      Vectors.toDouble(col("embedding")).as("qv"))
    val c = corpus.select(col("vec_id"),
      Vectors.toDouble(col("embedding")).as("v"))
    val scored = c.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        Vectors.dot(col("qv"), col("v")).as("ip"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("ip").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast(IntegerType).as("rank"),
        col("neighbor_id"), round(col("ip"), 6).as("inner_product"))
  }

  /** MIPS at scale via the order-exact cosine reduction (Bachrach et
    * al., RecSys 2014): corpus x → [x, sqrt(M² − |x|²)] with M the max
    * corpus norm, query q → [q, 0]. Every augmented corpus vector has
    * norm exactly M, so augmented cosine = ip/(|q|·M) — a positive
    * per-query scaling that preserves the inner-product order. The
    * existing IVF candidate machinery then applies UNCHANGED; the only
    * approximation is IVF's candidate pruning (dial: nProbe), never
    * the reduction itself. One extra scalar agg (M²) over the corpus.
    */
  def mipsIvf(queries: DataFrame, corpus: DataFrame, k: Int,
      nCentroids: Int = 16, nProbe: Int = 4, kmeansIters: Int = 2): DataFrame = {
    val c = corpus.select(col("vec_id"),
      Vectors.toDouble(col("embedding")).as("v"))
    val m2 = c.agg(max(Vectors.dot(col("v"), col("v")))).head.getDouble(0)
    val corpusAug = c.select(col("vec_id"),
      concat(col("v"),
        array(sqrt(greatest(lit(m2) - Vectors.dot(col("v"), col("v")), lit(0.0)))))
        .as("embedding"))
    val queriesAug = queries.select(col("vec_id"),
      concat(Vectors.toDouble(col("embedding")), array(lit(0.0))).as("embedding"))
    ivf(queriesAug, corpusAug, k, nCentroids, nProbe, kmeansIters)
      .drop("cosine") // augmented cosine is a scaled ip — not reportable as either
  }

  /** Per-query top-k by cosine (tiebreak: lowest neighbor id). */
  private def topK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast(IntegerType).as("rank"),
        col("neighbor_id"), round(col("cos"), 6).as("cosine"))
  }

  /** Fixed seeded hyperplanes: `tables` × `bits` planes of `dim`
    * Gaussian-ish weights. Public so the DuckDB oracle for the
    * registered d05 query can be GENERATED from the same planes —
    * both engines then compute identical sign bits (strict
    * left-to-right dot-product accumulation on both sides).
    */
  def srpPlanes(tables: Int, bits: Int, dim: Int, seed: Long): Array[Array[Array[Double]]] = {
    val r = new scala.util.Random(seed)
    Array.fill(tables, bits, dim)(r.nextGaussian())
  }

  private def planes(tables: Int, bits: Int, dim: Int, seed: Long): Array[Array[Array[Double]]] =
    srpPlanes(tables, bits, dim, seed)

  /** Approximate top-k via sign-random-projection LSH: `tables`
    * independent hash tables of `bits` sign bits each; a corpus
    * vector is a candidate for a query iff they share a bucket in
    * ANY table. Exact cosine re-ranks candidates. Candidate volume
    * ≈ tables · n / 2^bits per query vs n for brute force — the
    * recall/cost dial is (tables, bits).
    */
  def lsh(queries: DataFrame, corpus: DataFrame, k: Int,
      tables: Int = 8, bits: Int = 6, dim: Int = 64,
      seed: Long = 7L): DataFrame = {
    val hp = planes(tables, bits, dim, seed)

    def bucketed(df: DataFrame, idAs: String) =
      normed(df).select(col("vec_id").as(idAs), col("v"), col("nrm"),
          posexplode(graft.plans.VectorExpressions.srpSignatures(col("v"), hp))
            .as(Seq("table", "bucket")))

    val cb = bucketed(corpus, "neighbor_id")
    val qb = bucketed(queries, "query_id")
      .select(col("query_id"), col("v").as("qv"), col("nrm").as("qn"),
        col("table"), col("bucket"))
    val cands = cb.join(qb, Seq("table", "bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"), col("qv"), col("qn"),
        col("v"), col("nrm"))
      .dropDuplicates("query_id", "neighbor_id")
    val scored = cands.select(col("query_id"), col("neighbor_id"),
      Vectors.cosine(col("qv"), col("v"), col("qn"), col("nrm")).as("cos"))
    topK(scored, k)
  }

  /** IVF (inverted-file) approximate top-k: corpus vectors are
    * assigned to their nearest coarse centroid; a query probes its
    * `nProbe` nearest centroids and re-ranks only those clusters with
    * exact cosine. Candidate volume ≈ nProbe/nCentroids of the corpus.
    *
    * Centroids: the first `nCentroids` corpus vectors seed the
    * codebook (deterministic), then `kmeansIters` Lloyd iterations
    * refine it — each iteration is ONE distributed pass (assign to
    * nearest centroid, element-wise mean per cluster) and only the
    * nCentroids × dim aggregated means reach the driver, so the
    * refinement is as cluster-scale as the probe itself. An empty
    * cluster keeps its previous centroid.
    */
  /** A coarse codebook entry: (centroid id, vector, norm). */
  type Codebook = Array[(Int, Array[Double], Double)]

  /** (cosine-to-centroid, centroid-id) structs for a vector column;
    * array_max / sort give argmax / top-probes (struct ordering =
    * field order).
    */
  private[graft] def centScoresFor(cs: Codebook, v: String) =
    array(cs.toSeq.map { case (i, c, nc) =>
      struct((Vectors.dotLit(col(v), c) / nc).as("s"), lit(i).as("i")) }: _*)

  /** Corpus rows with their nearest-centroid assignment:
    * (neighbor_id, v, nrm, cluster).
    */
  private[graft] def assigned(corpus: DataFrame, cs: Codebook): DataFrame =
    normed(corpus)
      .withColumn("cluster", array_max(centScoresFor(cs, "v"))("i"))

  /** Build the IVF coarse codebook: the first `nCentroids` corpus
    * vectors seed it (deterministic), then `kmeansIters` spherical
    * k-means (Lloyd) iterations refine it. Each iteration is ONE
    * distributed pass — assign to nearest centroid, element-wise mean
    * of UNIT vectors per cluster (a raw mean would let long vectors
    * dominate the direction, which is all cosine assignment cares
    * about) — and only nCentroids × dim aggregated doubles reach the
    * driver. An empty cluster keeps its previous centroid.
    *
    * What refinement buys at scale: BALANCED inverted lists. A seed
    * codebook of arbitrary corpus vectors leaves some clusters holding
    * a large corpus fraction, and the largest probed list bounds both
    * per-query work and tail latency; Lloyd iterations shrink the max
    * list toward n/nCentroids (pinned in LlmOpsSpec). On structureless
    * corpora that balance costs ~0.03 recall at fixed nProbe (coverage
    * per probe drops as lists even out) — the classic IVF trade.
    */
  def ivfCodebook(corpus: DataFrame, nCentroids: Int = 16,
      kmeansIters: Int = 2): Codebook = {
    val seed0: Codebook =
      corpus.filter(col("vec_id") < nCentroids)
        .select(col("vec_id"), Vectors.toDouble(col("embedding")).as("cv"))
        .collect()
        .map { r =>
          val v = r.getSeq[Double](1).toArray
          (r.getLong(0).toInt, v, math.sqrt(v.map(x => x * x).sum))
        }
    require(seed0.nonEmpty, "corpus must contain the centroid ids")
    val dim = seed0.head._2.length
    // Per-(cluster, pos) mean via SCALED-INTEGER sums: doubles summed
    // under a partial aggregate merge in nondeterministic order would
    // make the codebook jitter between runs (and s03's candidate set
    // flip on near-tie assignments). Each component is quantized to a
    // 2^40-scaled integer (~1e-12 resolution) and summed as
    // DECIMAL(38,0): integer-exact, associative+commutative (fold
    // order cannot matter), and headroom to 10^38 — ~10^25 members
    // per cluster — so there is no overflow cliff at any corpus size
    // (a plain long sum would hit 2^63 past ~2^23 members).
    val scale = 1L << 40
    (0 until kmeansIters).foldLeft(seed0) { (cur, _) =>
      val means = assigned(corpus, cur)
        .select(col("cluster"),
          posexplode(transform(col("v"), x => x / col("nrm"))).as(Seq("pos", "x")))
        .groupBy("cluster", "pos")
        .agg(sum((col("x") * scale).cast("long").cast("decimal(38,0)")).as("s"),
          count(lit(1)).as("n"))
        .collect()
        .groupBy(_.getInt(0))
      cur.map { case (i, cOld, nOld) =>
        means.get(i).fold((i, cOld, nOld)) { rows =>
          val m = new Array[Double](dim)
          rows.foreach(r =>
            m(r.getInt(1)) = r.getDecimal(2).doubleValue() / scale / r.getLong(3))
          val nrm = math.sqrt(m.map(x => x * x).sum)
          if (nrm > 0) (i, m, nrm) else (i, cOld, nOld)
        }
      }
    }
  }

  def ivf(queries: DataFrame, corpus: DataFrame, k: Int,
      nCentroids: Int = 16, nProbe: Int = 4, kmeansIters: Int = 2): DataFrame =
    ivfServe(queries, corpus, k, ivfCodebook(corpus, nCentroids, kmeansIters),
      nProbe)

  /** Persist a trained codebook as a warehouse TABLE (cid, cv) — the
    * train/serve split every production ANN deployment runs on: the
    * codebook is trained ONCE over the corpus (the expensive pass),
    * versioned in the warehouse like any other relation, and every
    * serving job loads it instead of retraining. Norms are derived,
    * not stored — recomputed exactly on load.
    */
  def saveCodebook(wh: graft.core.Warehouse, schema: String, table: String,
      cb: Codebook): Unit = {
    val rows = cb.toSeq.map { case (i, v, _) => (i, v.toSeq) }
    wh.write(wh.spark.createDataFrame(rows).toDF("cid", "cv"), schema, table)
  }

  /** Load a [[saveCodebook]] table back into serving form. The stored
    * doubles round-trip parquet bit-exactly, so a served probe equals
    * the train-session probe bitwise.
    */
  def loadCodebook(wh: graft.core.Warehouse, schema: String,
      table: String): Codebook =
    wh.read(schema, table).select(col("cid"), col("cv")).collect()
      .map { r =>
        val v = r.getSeq[Double](1).toArray
        (r.getInt(0), v, math.sqrt(v.map(x => x * x).sum))
      }
      .sortBy(_._1)

  /** The serving half of [[ivf]]: probe with an ALREADY-TRAINED
    * codebook (from this session or [[loadCodebook]]).
    */
  def ivfServe(queries: DataFrame, corpus: DataFrame, k: Int,
      cents: Codebook, nProbe: Int = 4): DataFrame =
    ivfServeIndexed(queries, assigned(corpus, cents), k, cents, nProbe)

  /** Serve against a PRE-ASSIGNED index frame (vec_id, v, nrm,
    * cluster) — the maintained-index path (s14): the corpus is not
    * re-normed or re-assigned at query time; whatever upsert/delete
    * maintenance produced the frame is what serving sees.
    */
  def ivfServeIndexed(queries: DataFrame, index: DataFrame, k: Int,
      cents: Codebook, nProbe: Int = 4): DataFrame = {
    def centScores(v: String) = centScoresFor(cents, v)

    val corpusA = index
      .select(col("vec_id").as("neighbor_id"), col("v"), col("nrm"), col("cluster"))
    val queriesA = normed(queries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"),
        explode(transform(
          slice(reverse(array_sort(centScores("v"))), 1, nProbe),
          p => p("i"))).as("cluster"))
    val cands = corpusA.join(queriesA, "cluster")
      .filter(col("neighbor_id") =!= col("query_id"))
    val scored = cands.select(col("query_id"), col("neighbor_id"),
      Vectors.cosine(col("qv"), col("v"), col("qn"), col("nrm")).as("cos"))
    topK(scored, k)
  }

  /** RATIO-MARGIN bitext mining (s15 — Artetxe & Schwenk 2019, the
    * LASER/CCMatrix miner): each (src, tgt) cosine is normalized by
    * the mean of both sides' top-`k` cosines, so hub vectors (close
    * to everything) see their inflated denominator cancel their
    * inflated cosines and only MUTUALLY unusual pairs win; the
    * top-margin target per source is emitted. Cosines quantize to
    * µ-units before the k-NN sums — integer-exact normalizers, one
    * double division for the margin (engine-portable, hence the
    * DuckDB gate). The scored bipartite frame freezes once for its
    * three consumers; the target pool broadcasts.
    */
  def bitextMargin(src: DataFrame, tgt: DataFrame, k: Int = 4): DataFrame = {
    // EXACT all-pairs scoring (|src|×|tgt| candidates, target pool
    // broadcast) — the compare-scale dial; the routed form holds
    // shortlists sub-linear at any scale
    Gate.check(src, 32768L,
      "Ann.bitextMargin (exact all-pairs, src pool)", "Ann.bitextMarginAuto")
    Gate.check(tgt, 32768L,
      "Ann.bitextMargin (exact all-pairs, tgt pool)", "Ann.bitextMarginAuto")
    val xs = normed(src)
      .select(col("vec_id").as("src_id"), col("v").as("xv"), col("nrm").as("xn"))
    val ys = normed(tgt)
      .select(col("vec_id").as("tgt_id"), col("v").as("yv"), col("nrm").as("yn"))
    val sc = xs.crossJoin(broadcast(ys))
      .select(col("src_id"), col("tgt_id"),
        round(Vectors.cosine(col("xv"), col("yv"), col("xn"), col("yn"))
          * 1000000, 0).cast(LongType).as("cosu"))
      .localCheckpoint(true) // frozen: 3 consumers (xk, yk, margin)
    val wx = Window.partitionBy("src_id").orderBy(col("cosu").desc, col("tgt_id"))
    val xk = sc.withColumn("r", row_number().over(wx)).filter(col("r") <= k)
      .groupBy("src_id").agg(sum("cosu").as("xs"))
    val wy = Window.partitionBy("tgt_id").orderBy(col("cosu").desc, col("src_id"))
    val yk = sc.withColumn("r", row_number().over(wy)).filter(col("r") <= k)
      .groupBy("tgt_id").agg(sum("cosu").as("ys"))
    val m = sc.join(broadcast(xk), "src_id").join(broadcast(yk), "tgt_id")
      .withColumn("margin",
        round(col("cosu") * lit(2.0 * k) / (col("xs") + col("ys")), 6))
    val w1 = Window.partitionBy("src_id").orderBy(col("margin").desc, col("tgt_id"))
    m.withColumn("rn", row_number().over(w1)).filter(col("rn") === 1)
      .select(col("src_id"), col("tgt_id"),
        round(col("cosu") / 1000000.0, 6).as("cosine"), col("margin"))
  }

  /** [[bitextMargin]] at corpus scale (s15's auto dial — the ANN-kNN
    * ratio margin CCMatrix actually runs, Schwenk et al. 2021):
    * candidate pairs AND both k-NN normalizers come from per-pool IVF
    * shortlists instead of the full |src|·|tgt| product. Each pool
    * trains its own DataFrame-native codebook with OCCUPANCY-HELD
    * k = max(16, pool/occupancy) (the d05/d10/s05 dial); the FORWARD
    * shortlist — src probing its `nProbe` nearest tgt-codebook lists —
    * yields the candidate pairs and the src-side top-k normalizers,
    * and the REVERSE shortlist (tgt probing the src codebook) yields
    * the tgt-side normalizers. The margin arithmetic is UNCHANGED
    * from the exact form: cosines µ-quantize before the k-NN sums
    * (integer-exact normalizers), margin = cosu·2k/(xs+ys) is one
    * double division — so the whole thing stays DuckDB-reproducible
    * (the registered s15_auto retrains both codebooks in SQL). Top-k
    * coverage of the shortlists makes the NORMALIZERS exact but does
    * not by itself imply output equality with [[bitextMargin]] — the
    * exact form's per-src argmax runs over margin, and a low-cosine
    * target outside the forward shortlist can still win the ratio on
    * a small ys denominator — so the equality spec asserts BOTH
    * preconditions on its planted corpus: top-k coverage AND that
    * each src's exact argmax-margin target is a forward candidate
    * (asserted, not assumed; equality is pinned under exactly those
    * conditions, and CCMatrix-style mining accepts shortlist-scoped
    * margins as the production semantics). Emission contract
    * (mirrored by the
    * oracle's inner joins): a src emits iff it has ≥1 forward
    * candidate whose tgt also has ≥1 reverse candidate — a pair whose
    * tgt drew an empty reverse shortlist cannot be margin-scored (no
    * y-side normalizer exists; CCMatrix has the same requirement), so
    * it drops rather than scoring against a fabricated denominator;
    * on covering corpora every shortlist is nonempty and the exact
    * form's one-row-per-src contract holds (the coverage spec's
    * 80/80 assertion pins exactly this). Scale shape: per-side work is
    * O(pool · nProbe · occupancy) through cluster-key equi-joins —
    * the one cartesian on the 217-board (the exact form's crossJoin)
    * never appears; the normalizer joins are plain shuffles (xk/yk
    * are pool-sized, NOT broadcast).
    */
  def bitextMarginAuto(src: DataFrame, tgt: DataFrame, k: Int = 4,
      nProbe: Int = 4, occupancy: Long = 256L,
      kmeansIters: Int = 2): DataFrame = {
    val (fwd, rev) = bitextShortlists(src, tgt, nProbe, occupancy, kmeansIters)
    val wx = Window.partitionBy("src_id").orderBy(col("cosu").desc, col("tgt_id"))
    val xk = fwd.withColumn("r", row_number().over(wx)).filter(col("r") <= k)
      .groupBy("src_id").agg(sum("cosu").as("xs"))
    val wy = Window.partitionBy("tgt_id").orderBy(col("cosu").desc, col("src_id"))
    val yk = rev.withColumn("r", row_number().over(wy)).filter(col("r") <= k)
      .groupBy("tgt_id").agg(sum("cosu").as("ys"))
    val m = fwd.join(xk, "src_id").join(yk, "tgt_id")
      .withColumn("margin",
        round(col("cosu") * lit(2.0 * k) / (col("xs") + col("ys")), 6))
    val w1 = Window.partitionBy("src_id").orderBy(col("margin").desc, col("tgt_id"))
    m.withColumn("rn", row_number().over(w1)).filter(col("rn") === 1)
      .select(col("src_id"), col("tgt_id"),
        round(col("cosu") / 1000000.0, 6).as("cosine"), col("margin"))
  }

  /** The two IVF shortlist frames behind [[bitextMarginAuto]] —
    * (src_id, tgt_id, cosu µ-units): FORWARD (src probes the
    * tgt-pool codebook; candidate pairs + src normalizers) and
    * REVERSE (tgt probes the src-pool codebook; tgt normalizers).
    * Exposed so the coverage spec can assert — not assume — that the
    * shortlists contain the true k-NN on the planted corpus.
    */
  private[graft] def bitextShortlists(src: DataFrame, tgt: DataFrame,
      nProbe: Int, occupancy: Long, kmeansIters: Int): (DataFrame, DataFrame) = {
    // frozen: each pool feeds its codebook training, the member
    // assignment, AND the other side's probe scoring
    val nx = normed(src).localCheckpoint(true)
    val ny = normed(tgt).localCheckpoint(true)
    val kS = math.max(16L, nx.count() / occupancy)
    val kT = math.max(16L, ny.count() / occupancy)
    val cbS = kmeansNormed(nx, kS, kmeansIters)
    val cbT = kmeansNormed(ny, kT, kmeansIters)

    // query side: top-nProbe centroids by (score desc, cid asc) — the
    // assignDirect tie-break extended from argmax to arg-top-n.
    // probeTopN picks the form: direct below RouteThreshold, two-level
    // ROUTED above it (probeRouted) — so with occupancy-held k ∝ pool,
    // no stage of the miner is O(n·k) at any pool size.
    def probes(n: DataFrame, cents: DataFrame, kk: Long, idAs: String) =
      probeTopN(n, cents, kk, nProbe)
        .select(col("vec_id").as(idAs), col("v").as("qv"), col("nrm").as("qn"),
          explode(col("top")).as("sc"))
        .select(col(idAs), col("qv"), col("qn"), col("sc.cid").as("cid"))
    def members(n: DataFrame, cents: DataFrame, kk: Long, idAs: String) =
      assignViaJoin(n, cents, kk)
        .select(col("vec_id").as(idAs), col("v").as("mv"), col("nrm").as("mn"),
          col("cid"))
    // µ-quantized cosine, operand order ALWAYS (src, tgt) — the s15
    // discipline (per-position products commute and the fold order is
    // index order, so fwd and rev cosines of the same pair are
    // bitwise equal anyway)
    def cosu(a: String, b: String, an: String, bn: String) =
      round(Vectors.cosine(col(a), col(b), col(an), col(bn)) * 1000000, 0)
        .cast(LongType)

    val fwd = members(ny, cbT, kT, "tgt_id")
      .join(probes(nx, cbT, kT, "src_id"), "cid")
      .select(col("src_id"), col("tgt_id"),
        cosu("qv", "mv", "qn", "mn").as("cosu"))
      .localCheckpoint(true) // frozen: xk AND the margin join consume it
    val rev = members(nx, cbS, kS, "src_id")
      .join(probes(ny, cbS, kS, "tgt_id"), "cid")
      .select(col("src_id"), col("tgt_id"),
        cosu("mv", "qv", "mn", "qn").as("cosu"))
    (fwd, rev)
  }

  /** INDEX MAINTENANCE under upserts + deletes (s14 — merge-on-read
    * applied to a vector index): `upserts` are (re)assigned against
    * the FROZEN codebook in O(batch) — production never retrains per
    * batch — and the live index is base minus (tombstoned ∪
    * upserted-old) plus upserted-new: newest version wins, and an
    * upsert after a delete revives the id. The base index is never
    * rewritten; at 100 TB the maintenance cost is the batch and the
    * two id anti-joins (broadcast/Bloom-sized), not the corpus.
    */
  def ivfIndexApply(base: DataFrame, upserts: DataFrame,
      tombstones: DataFrame, cents: Codebook): DataFrame =
    base
      .join(tombstones.select("vec_id"), Seq("vec_id"), "left_anti")
      .join(upserts.select("vec_id"), Seq("vec_id"), "left_anti")
      .unionByName(assigned(upserts, cents))

  // ---------------------------------------------------------------
  // Persisted index lifecycle (s16): the on-disk layout behind s14's
  // maintenance algebra — an immutable base plus a seq-stamped
  // mutation log, a merge-on-read live view, and COMPACT (m31/m17's
  // lakehouse discipline applied to the vector index): materialize
  // the live view as the new base GENERATION and fold the log into
  // it, so serving cost stays flat under continuous upserts instead
  // of growing with log length. The log is maintenance-sized
  // (compaction caps the unfolded tail), so the live view's anti-join
  // side and per-id latest window are both log-bounded — never
  // corpus work.
  //
  // Durability is the TimeTravel/Delta-log protocol (the r14 verdict's
  // named weakness — the old form overwrote base/ IN PLACE, the one
  // materialization outside the repo's staged-swap discipline):
  //   $dir/_manifests/v%05d.json  {"version":N,"base":"base_%05d","logFrom":S}
  //   $dir/base_%05d/             immutable base generations
  //   $dir/log/s%08d/             one immutable segment dir per seq
  // Every compaction writes a FRESH generation dir and commits it via
  // an atomic manifest rename — nothing a live reader resolved is ever
  // touched, so (1) a crash mid-compaction leaves an orphan generation
  // no manifest references (invisible; [[indexVacuum]] sweeps it, the
  // m28 rule), and (2) a reader opened before compact() completes
  // keeps serving its pinned (generation, segments) snapshot
  // bit-identically (spec-pinned). The manifest's logFrom is the fold
  // point: segments ≤ logFrom are already IN the committed base, so
  // the live view reads only the tail — no delete is needed at commit
  // time, which is exactly what makes the commit a single rename.

  private[graft] final case class IndexManifest(
    version: Int, base: String, logFrom: Long)

  private def hfs(spark: org.apache.spark.sql.SparkSession, p: String) = {
    val path = new org.apache.hadoop.fs.Path(p)
    (path.getFileSystem(spark.sparkContext.hadoopConfiguration), path)
  }

  /** All committed manifests, oldest first. Only manifests define
    * versions — orphan base generations and unfolded log segments are
    * a crashed writer's residue, never consulted here (the
    * TimeTravel.history rule).
    */
  private[graft] def indexManifests(spark: org.apache.spark.sql.SparkSession,
      dir: String): Seq[IndexManifest] = {
    val (fs, md) = hfs(spark, s"$dir/_manifests")
    if (!fs.exists(md)) Seq.empty
    else fs.listStatus(md).toSeq.map(_.getPath.getName)
      .filter(_.matches("v\\d{5,}\\.json"))
      // numeric: v100000.json sorts before v99999 lexicographically,
      // which would serve a stale latest past slot 99999
      .sortBy(_.stripPrefix("v").stripSuffix(".json").toInt).map { name =>
        val content = graft.core.MetaFile.read(fs,
          new org.apache.hadoop.fs.Path(md, name))
        IndexManifest(
          name.stripPrefix("v").stripSuffix(".json").toInt,
          "\"base\"\\s*:\\s*\"([^\"]+)\"".r.findFirstMatchIn(content).get.group(1),
          "\"logFrom\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(content).get.group(1).toLong)
      }
  }

  /** Latest committed manifest, or None for an uninitialized dir. */
  private[graft] def indexManifest(spark: org.apache.spark.sql.SparkSession,
      dir: String): Option[IndexManifest] =
    indexManifests(spark, dir).lastOption

  /** Commit a manifest: write-tmp + atomic rename (the Delta-log
    * protocol; same as TimeTravel.commit). The rename IS the commit
    * point — before it, readers resolve the previous version.
    */
  private def commitIndexManifest(spark: org.apache.spark.sql.SparkSession,
      dir: String, m: IndexManifest): Unit = {
    val (fs, md) = hfs(spark, s"$dir/_manifests")
    val json =
      s"""{"version":${m.version},"base":"${m.base}","logFrom":${m.logFrom}}"""
    graft.core.MetaFile.writeAtomic(fs, md, f"v${m.version}%05d.json", json,
      s"could not commit index manifest v${m.version} at $dir")
  }

  private def genName(v: Int) = f"base_$v%05d"
  private def segName(seq: Long) = f"s$seq%08d"

  /** Unfolded log segment seqs (> logFrom), ascending. A directory
    * listing — O(segments) metadata, and compaction keeps that
    * bounded.
    */
  private def logSegments(spark: org.apache.spark.sql.SparkSession,
      dir: String, logFrom: Long): Seq[Long] = {
    val (fs, lp) = hfs(spark, s"$dir/log")
    if (!fs.exists(lp)) Seq.empty
    else fs.listStatus(lp).toSeq.map(_.getPath.getName)
      .filter(_.matches("s\\d{8,}")).map(_.stripPrefix("s").toLong)
      .filter(_ > logFrom).sorted
  }

  /** Assign `corpus` against the frozen codebook and commit it as
    * generation 1 of a fresh index.
    */
  def indexInit(corpus: DataFrame, cents: Codebook, dir: String): Unit = {
    assigned(corpus, cents).write.mode("overwrite")
      .parquet(s"$dir/${genName(1)}")
    commitIndexManifest(corpus.sparkSession, dir,
      IndexManifest(1, genName(1), 0L))
  }

  /** Append an upsert batch to the log: (re)assigned against the
    * FROZEN codebook in O(batch), stamped with `seq` — the total
    * order that lets deletes and upserts of the same id interleave
    * correctly (latest op wins, the e12 CDC rule; s14's one-shot
    * algebra cannot express an upsert-then-delete). Each seq is its
    * own immutable segment dir, so (a) a retried batch overwrites its
    * own segment idempotently and (b) folding a segment into a base
    * generation is a metadata fact (manifest logFrom), not a rewrite.
    */
  def indexUpsert(batch: DataFrame, cents: Codebook, dir: String,
      seq: Long): Unit =
    assigned(batch, cents)
      .select(col("vec_id"), col("v"), col("nrm"), col("cluster"),
        lit(seq).as("seq"), lit("U").as("op"))
      .write.mode("overwrite").parquet(s"$dir/log/${segName(seq)}")

  /** Append tombstones to the log (same seq ordering as upserts). */
  def indexDelete(ids: DataFrame, dir: String, seq: Long): Unit =
    ids.select(col("vec_id"),
        lit(null).cast("array<double>").as("v"),
        lit(null).cast(DoubleType).as("nrm"),
        lit(null).cast(IntegerType).as("cluster"),
        lit(seq).as("seq"), lit("D").as("op"))
      .write.mode("overwrite").parquet(s"$dir/log/${segName(seq)}")

  /** The committed base generation alone — what serving reads after a
    * compaction has folded the whole log (s16's registered form).
    */
  def indexBase(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val m = indexManifest(spark, dir).getOrElse(
      throw new IllegalArgumentException(s"no committed index at $dir"))
    spark.read.parquet(s"$dir/${m.base}")
  }

  /** TIME TRAVEL over the index (s17 — m29's AS-OF read applied to
    * the vector index, which the versioned manifest makes a metadata
    * pin, not a restore): the committed snapshot at `version` — the
    * latest manifest with version ≤ the request, exactly
    * TimeTravel.read's resolution rule. A snapshot is the COMMITTED
    * base generation; the unfolded log tail is part of no version
    * (the m29 contract: only commits have version numbers). Serving
    * "the index as it was before yesterday's compaction folded the
    * deletes" is an O(manifest) resolution + that generation's scan —
    * retention caveat: [[indexVacuum]] keeps only the latest version,
    * so AS-OF reads reach exactly as far back as the vacuum cadence
    * allows (spec-pinned: readable before the sweep, refused after).
    */
  def indexBaseAsOf(spark: org.apache.spark.sql.SparkSession,
      dir: String, version: Int): DataFrame = {
    val m = indexManifests(spark, dir).filter(_.version <= version)
      .lastOption.getOrElse(throw new IllegalArgumentException(
        s"no committed index version <= $version at $dir"))
    spark.read.parquet(s"$dir/${m.base}")
  }

  /** The merge-on-read LIVE view: the committed base generation minus
    * every id in the UNFOLDED log tail, plus the ids whose latest
    * tail op is an upsert. One log-bounded anti-join + one log-bounded
    * per-id window; the base is never rewritten. The (generation,
    * segment-set) pair is resolved HERE, eagerly, against the current
    * manifest — the returned frame is a pinned snapshot that stays
    * bit-identical under concurrent compaction (segments already
    * folded by a later generation are still on disk until
    * [[indexVacuum]]).
    */
  def indexLive(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val m = indexManifest(spark, dir).getOrElse(
      throw new IllegalArgumentException(s"no committed index at $dir"))
    val base = spark.read.parquet(s"$dir/${m.base}")
    val segs = logSegments(spark, dir, m.logFrom)
    if (segs.isEmpty) base
    else {
      val log = spark.read.parquet(
        segs.map(s => s"$dir/log/${segName(s)}"): _*)
      val w = Window.partitionBy("vec_id").orderBy(col("seq").desc)
      val latest = log.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1 && col("op") === "U")
        .select("vec_id", "v", "nrm", "cluster")
      base.join(log.select("vec_id"), Seq("vec_id"), "left_anti")
        .unionByName(latest)
    }
  }

  /** COMPACT: materialize the live view as the NEXT base generation
    * and commit it with logFrom advanced past every folded segment.
    * Post-compaction serving is bit-identical to the pre-compaction
    * merge-on-read view (spec-pinned and, for the registered s16,
    * oracle-gated through s14's retrained-codebook SQL); what changes
    * is the READ shape — back to one base scan, no anti-join, no
    * window. Crash-safe at every point: the generation write goes to
    * a fresh dir (a dir already at the next slot is a crashed
    * compaction's residue — no manifest references it, so overwriting
    * is safe, the TimeTravel.commit rule), the manifest rename is the
    * atomic commit, and no pre-existing file is deleted — folded
    * segments and superseded generations stay until [[indexVacuum]],
    * which is what keeps racing readers on their pinned snapshot.
    * Returns the compacted row count.
    */
  def indexCompact(spark: org.apache.spark.sql.SparkSession,
      dir: String): Long = {
    val m = indexManifest(spark, dir).getOrElse(
      throw new IllegalArgumentException(s"no committed index at $dir"))
    val segs = logSegments(spark, dir, m.logFrom)
    if (segs.isEmpty) return spark.read.parquet(s"$dir/${m.base}").count()
    val next = genName(m.version + 1)
    // fully distributed, never reads what it replaces (fresh dir) —
    // no driver pinning needed, a lost executor just re-runs its task
    indexLive(spark, dir).write.mode("overwrite").parquet(s"$dir/$next")
    commitIndexManifest(spark, dir,
      IndexManifest(m.version + 1, next, segs.max))
    spark.read.parquet(s"$dir/$next").count()
  }

  /** VACUUM (m28's machinery applied to the index dir): delete base
    * generations no retained manifest references — superseded
    * generations AND crashed-compaction orphans — plus log segments
    * the committed base already folds (seq ≤ logFrom) and superseded
    * manifests. Pure metadata-driven FS deletes; never touches the
    * committed generation or the unfolded tail. Run it on a cadence
    * with a retention window in production — anything inside the
    * window keeps racing readers' pinned snapshots servable. Returns
    * (sweptBases, sweptSegments).
    */
  def indexVacuum(spark: org.apache.spark.sql.SparkSession,
      dir: String): (Int, Int) = {
    val m = indexManifest(spark, dir).getOrElse(
      throw new IllegalArgumentException(s"no committed index at $dir"))
    val (fs, root) = hfs(spark, dir)
    val deadBases = fs.listStatus(root).toSeq.map(_.getPath.getName)
      .filter(n => n.matches("base_\\d{5,}") && n != m.base)
    deadBases.foreach(n =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$dir/$n"), true))
    val (lfs, lp) = hfs(spark, s"$dir/log")
    val deadSegs = if (!lfs.exists(lp)) Seq.empty[Long]
      else lfs.listStatus(lp).toSeq.map(_.getPath.getName)
        .filter(_.matches("s\\d{8,}")).map(_.stripPrefix("s").toLong)
        .filter(_ <= m.logFrom)
    deadSegs.foreach(s =>
      lfs.delete(new org.apache.hadoop.fs.Path(s"$dir/log/${segName(s)}"), true))
    val (mfs, md) = hfs(spark, s"$dir/_manifests")
    mfs.listStatus(md).toSeq.map(_.getPath.getName)
      .filter(n => n.matches("v\\d{5,}\\.json") &&
        n.stripPrefix("v").stripSuffix(".json").toInt < m.version)
      .foreach(n =>
        mfs.delete(new org.apache.hadoop.fs.Path(s"$dir/_manifests/$n"), false))
    (deadBases.size, deadSegs.size)
  }

  /** FILTERED ANN (the vector-store "metadata filter" feature): each
    * query retrieves its top-k among corpus vectors sharing the
    * query's `filterCol` value — tenant isolation, language-scoped
    * retrieval, split-scoped search. The predicate is pushed INTO
    * the candidate equi-join key (cluster AND label), not applied
    * after scoring: candidate volume shrinks by the label's
    * selectivity before any cosine is computed, which is the entire
    * point of filtered search at corpus scale (post-filtering a
    * top-k both over-scores and under-returns). Same train/serve
    * shape as [[ivf]]; oracle-gated with the label join mirrored in
    * SQL over the retrained codebook.
    */
  def ivfFiltered(queries: DataFrame, corpus: DataFrame, k: Int,
      filterCol: String = "label", nCentroids: Int = 16, nProbe: Int = 4,
      kmeansIters: Int = 2): DataFrame = {
    val cents = ivfCodebook(corpus, nCentroids, kmeansIters)
    def centScores(v: String) = centScoresFor(cents, v)
    // label-preserving norm projection: ONE scan per side (a normed +
    // label re-join reads each parquet twice — Explain audit)
    def normedWith(emb: DataFrame): DataFrame =
      emb.select(col("vec_id"),
          Vectors.toDouble(col("embedding")).as("v"), col(filterCol))
        .withColumn("nrm", Vectors.norm(col("v")))
    val corpusA = normedWith(corpus)
      .withColumn("cluster", array_max(centScores("v"))("i"))
      .select(col("vec_id").as("neighbor_id"), col("v"), col("nrm"),
        col("cluster"), col(filterCol))
    val queriesA = normedWith(queries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"), col(filterCol),
        explode(transform(
          slice(reverse(array_sort(centScores("v"))), 1, nProbe),
          p => p("i"))).as("cluster"))
    val cands = corpusA.join(queriesA, Seq("cluster", filterCol))
      .filter(col("neighbor_id") =!= col("query_id"))
    val scored = cands.select(col("query_id"), col("neighbor_id"),
      Vectors.cosine(col("qv"), col("v"), col("qn"), col("nrm")).as("cos"))
    topK(scored, k)
  }

  /** k-NN GRAPH: every vector's top-k cosine neighbors — the
    * self-query form of [[ivf]] (SemDeDup clustering, curriculum
    * neighborhoods, and graph-based filtering all start here). An
    * exact graph is inherently all-pairs, so candidates are IVF-
    * bounded: each vector probes its `nProbe` nearest inverted lists
    * and scores only those members — per-row work is capped by the
    * probed list sizes (Lloyd balancing keeps the max list near
    * n/nCentroids), and the join is an equi-join on cluster id, never
    * a cross. One frozen normed frame feeds the member side AND the
    * probe side (the two roles differ only in the probe explode, and
    * ReuseExchange cannot unify them). Rows-only: the neighbor set
    * depends on the trained codebook; recall vs [[brute]] and cosine
    * exactness are pinned in LlmOpsSpec.
    */
  def knnGraph(emb: DataFrame, k: Int, nCentroids: Int = 16,
      nProbe: Int = 4, kmeansIters: Int = 2): DataFrame = {
    // FIXED centroid count ⇒ candidate volume ∝ n²/nCentroids (the
    // board's one by-construction super-linear form, measured 16.8×
    // on 10× data at sf1) — refuse once probed lists pass ~1k rows,
    // and refuse BEFORE the codebook trains (fail fast, not after
    // two Lloyd passes over a corpus this operator must reject)
    Gate.check(emb, nCentroids * 1000L,
      "Ann.knnGraph (fixed nCentroids)", "Ann.knnGraphAuto")
    val cents = ivfCodebook(emb, nCentroids, kmeansIters)
    val n = normed(emb).localCheckpoint(true)
    val members = n
      .withColumn("cluster", array_max(centScoresFor(cents, "v"))("i"))
      .select(col("vec_id").as("neighbor_id"), col("v"), col("nrm"), col("cluster"))
    val probes = n
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"),
        explode(transform(
          slice(reverse(array_sort(centScoresFor(cents, "v"))), 1, nProbe),
          p => p("i"))).as("cluster"))
    val scored = members.join(probes, "cluster")
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        Vectors.cosine(col("qv"), col("v"), col("qn"), col("nrm")).as("cos"))
    topK(scored, k)
  }

  // ---------------------------------------------------------------
  // IVF-PQ: product quantization over the IVF probe (the FAISS
  // IVFPQ shape, minus residual encoding — codes quantize the unit
  // vector directly; documented trade below).

  /** PQ codebooks: `[subspace][code][component]` — m·k·(dim/m)
    * doubles, config-sized.
    */
  type PqCodebook = Array[Array[Array[Double]]]

  /** Squared L2 between two double arrays (strict index order). */
  private def l2sq(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, d) => acc + d)

  /** Nearest PQ code for subvector `x` in subspace `j` (0-based);
    * ties resolve to the lowest code (array_position returns the
    * first match), so encoding is deterministic.
    */
  private def nearestCode(x: Column, j: Column, cbLit: Column): Column = {
    val dists = transform(element_at(cbLit, j + 1), c => l2sq(x, c))
    (array_position(dists, array_min(dists)) - 1).cast(IntegerType)
  }

  private def pqLit(cb: PqCodebook): Column =
    typedLit(cb.map(_.map(_.toSeq).toSeq).toSeq)

  /** Unit-normalized vector column (PQ quantizes directions: on unit
    * vectors L2² = 2 − 2·cosine, so ADC L2 ranking IS cosine ranking).
    */
  private def unit(v: String, nrm: String): Column =
    transform(col(v), x => x / col(nrm))

  /** Train per-subspace k-means codebooks: `m` subspaces × `k` codes
    * over the unit-normalized corpus. Seeds are the first `k` corpus
    * vectors' subvectors (deterministic); each Lloyd iteration is ONE
    * distributed pass over the exploded (vec_id, subspace, subvector)
    * set — all m subspaces train in the same job — and only
    * m·k·(dim/m) aggregated means reach the driver. Means accumulate
    * SCALED LONGS (the ivfCodebook discipline): integer addition is
    * order-independent, so codebooks are bitwise stable under any
    * partial-aggregate merge order. Empty codes keep their previous
    * centroid.
    */
  def pqCodebooks(corpus: DataFrame, m: Int = 8, k: Int = 16,
      kmeansIters: Int = 2, dim: Int = 64): PqCodebook =
    pqCodebooksOn(
      normed(corpus).select(col("vec_id"), unit("v", "nrm").as("u")),
      m, k, kmeansIters, dim)

  /** [[pqCodebooks]] over an ALREADY-PREPARED vector frame
    * (vec_id, u) — the seam that lets the residual form (s18) train
    * the same Lloyd machinery on residuals instead of unit vectors.
    */
  private[graft] def pqCodebooksOn(u: DataFrame, m: Int, k: Int,
      kmeansIters: Int, dim: Int): PqCodebook = {
    val subDim = dim / m
    require(m * subDim == dim, s"m=$m must divide dim=$dim")
    val seedRows = u.filter(col("vec_id") < k)
      .collect().sortBy(_.getLong(0))
      .map(_.getSeq[Double](1).toArray)
    require(seedRows.length == k, s"corpus must contain vec_ids 0..${k - 1}")
    val seed: PqCodebook = Array.tabulate(m, k) { (j, kk) =>
      seedRows(kk).slice(j * subDim, (j + 1) * subDim)
    }
    val subs = u.select(col("vec_id"),
      posexplode(transform(sequence(lit(0), lit(m - 1)),
        j => slice(col("u"), j * subDim + 1, lit(subDim)))).as(Seq("j", "x")))
    val scale = 1L << 40
    (0 until kmeansIters).foldLeft(seed) { (cur, _) =>
      val cbLit = pqLit(cur)
      val means = subs
        .withColumn("c", nearestCode(col("x"), col("j"), cbLit))
        .select(col("j"), col("c"),
          posexplode(col("x")).as(Seq("pos", "xi")))
        .groupBy("j", "c", "pos")
        // decimal(38,0) accumulator: same overflow-proof scaled-integer
        // discipline as ivfCodebook/kmeansDf
        .agg(sum((col("xi") * scale).cast("long").cast("decimal(38,0)")).as("s"),
          count(lit(1)).as("n"))
        .collect()
        .groupBy(r => (r.getInt(0), r.getInt(1)))
      Array.tabulate(m, k) { (j, kk) =>
        means.get((j, kk)).fold(cur(j)(kk)) { rows =>
          val mArr = cur(j)(kk).clone()
          rows.foreach(r =>
            mArr(r.getInt(2)) = r.getDecimal(3).doubleValue() / scale / r.getLong(4))
          mArr
        }
      }
    }
  }

  /** IVF-PQ approximate top-k: the IVF coarse probe bounds WHICH
    * corpus rows each query touches (nProbe/nCentroids of the
    * corpus), and PQ bounds the WORK PER ROW — the query precomputes
    * an m×k distance table once, then each probed row costs m
    * TABLE LOOKUPS (asymmetric distance, ADC) instead of a dim-wide
    * dot product, over codes that store dim/m-times fewer bytes than
    * the vectors. The ADC shortlist is then re-ranked with exact
    * cosine, so reported scores are exact and quantization error can
    * only demote a true neighbor below the shortlist boundary, never
    * corrupt a score. Codes quantize unit vectors directly (FAISS
    * IVFPQ encodes residuals against the coarse centroid — one more
    * distributed pass for ~1 extra bit of effective precision; the
    * plumbing here is identical, the trade is documented, and the
    * exact re-rank absorbs the difference at this shortlist size).
    *
    * At 100 TB: the corpus side carries (cluster, codes) — 4 + m
    * bytes a row in flight instead of 4·dim — the shuffle is the
    * cluster-key join s03 already bounds, and the only driver state
    * is the two config-sized codebooks.
    */
  def ivfpq(queries: DataFrame, corpus: DataFrame, k: Int,
      nCentroids: Int = 16, nProbe: Int = 4, m: Int = 8, pqK: Int = 16,
      shortlist: Int = 64, kmeansIters: Int = 2, dim: Int = 64): DataFrame = {
    val coarse = ivfCodebook(corpus, nCentroids, kmeansIters)
    val pq = pqCodebooks(corpus, m, pqK, kmeansIters, dim)
    val subDim = dim / m
    val cbLit = pqLit(pq)
    val enc = normed(corpus)
      .withColumn("cluster", array_max(centScoresFor(coarse, "v"))("i"))
      .withColumn("u", unit("v", "nrm"))
      .withColumn("codes", transform(sequence(lit(0), lit(m - 1)),
        j => nearestCode(slice(col("u"), j * subDim + 1, lit(subDim)), j, cbLit)))
      .select(col("vec_id").as("neighbor_id"), col("v"), col("nrm"),
        col("cluster"), col("codes"))
    val qs = normed(queries)
      .withColumn("u", unit("v", "nrm"))
      .withColumn("dtab", transform(sequence(lit(0), lit(m - 1)),
        j => transform(element_at(cbLit, j + 1),
          c => l2sq(slice(col("u"), j * subDim + 1, lit(subDim)), c))))
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"), col("dtab"),
        explode(transform(
          slice(reverse(array_sort(centScoresFor(coarse, "v"))), 1, nProbe),
          p => p("i"))).as("cluster"))
    // one row per (query, probed corpus row): a corpus row lives in
    // exactly one cluster, so no pair dedup is needed
    val adc = enc.join(qs, "cluster")
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"), col("qv"), col("qn"),
        col("v"), col("nrm"),
        aggregate(sequence(lit(0), lit(m - 1)), lit(0.0),
          (acc, j) => acc + element_at(element_at(col("dtab"), j + 1),
            element_at(col("codes"), j + 1) + 1)).as("adc"))
    // ascending ADC L2² on unit vectors == descending quantized cosine
    val wsl = Window.partitionBy("query_id")
      .orderBy(col("adc").asc, col("neighbor_id").asc)
    val short = adc.withColumn("r", row_number().over(wsl))
      .filter(col("r") <= shortlist)
    val rescored = short.select(col("query_id"), col("neighbor_id"),
      Vectors.cosine(col("qv"), col("v"), col("qn"), col("nrm")).as("cos"))
    topK(rescored, k)
  }

  /** OPQ DIMENSION ALLOCATION (s19 — the eigenvalue-allocation step
    * of Ge et al., "Optimized Product Quantization", CVPR 2013 §4,
    * restricted to the COORDINATE basis): order dimensions by
    * variance and deal them snake-wise (boustrophedon) across the `m`
    * subspaces, so each subquantizer models a balanced share of the
    * corpus variance instead of whatever contiguous slice the storage
    * order happened to put together. The allocation IS an orthonormal
    * rotation (a permutation matrix), so L2 distances — and therefore
    * ADC ranking — are preserved exactly; what changes is how the
    * fixed m×k code budget is SPENT. The full OPQ rotation adds a PCA
    * basis in front of the allocation; an eigendecomposition is
    * iterative float linear algebra no SQL oracle can reproduce
    * bit-for-bit, so the registered form keeps the allocation (the
    * step that fixes the pathological contiguous-slice case) and
    * documents the basis restriction.
    *
    * Determinism discipline: per-dimension variance is compared as
    * the EXACT integer n·Σq² − (Σq)² over 2²⁰-scaled components
    * (order-free integer sums — the codebook discipline), ties break
    * on dimension index, so both engines derive the identical
    * permutation. Returns the 1-based source index for each permuted
    * position (group j occupies positions j·subDim+1 … (j+1)·subDim).
    */
  def opqAllocation(corpus: DataFrame, m: Int = 8, dim: Int = 64): Seq[Int] = {
    val scale = 1L << 20
    val stats = normed(corpus)
      .withColumn("u", unit("v", "nrm"))
      .select(posexplode(transform(col("u"),
        x => (x * scale).cast(LongType))).as(Seq("i", "q")))
      .groupBy("i")
      .agg(count(lit(1)).as("n"),
        sum(col("q").cast("decimal(38,0)")).as("sm"),
        sum((col("q") * col("q")).cast("decimal(38,0)")).as("sq"))
      .collect()
    require(stats.length == dim, s"expected $dim dimension rows")
    val varInt = stats.map { r =>
      val n = BigInt(r.getLong(1))
      val sm = BigInt(r.getDecimal(2).toBigInteger)
      val sq = BigInt(r.getDecimal(3).toBigInteger)
      (r.getInt(0), n * sq - sm * sm) // exact integer n·Var·n
    }
    val ranked = varInt.sortBy { case (i, v) => (-v, i) }.zipWithIndex
    val subDim = dim / m
    // snake deal: rank r → group (r%m) on even passes, mirrored on odd
    val groups = ranked.map { case ((i, _), r) =>
      val pos = r % m
      val grp = if ((r / m) % 2 == 0) pos else m - 1 - pos
      (grp, r, i)
    }
    val perm = groups.sortBy { case (grp, r, _) => (grp, r) }.map(_._3 + 1)
    require(perm.length == m * subDim)
    perm.toSeq
  }

  /** [[ivfpq]] with the OPQ dimension allocation applied before PQ:
    * members and queries permute their unit vectors through
    * [[opqAllocation]]'s variance-balancing permutation, then train/
    * encode/ADC exactly as [[ivfpq]] does — candidate generation,
    * shortlist, and the exact-cosine re-rank (over the ORIGINAL
    * vectors; the permutation is orthonormal so it would not change
    * them anyway) are verbatim. One extra DIM-row aggregate per
    * build; zero extra per-row work at query time.
    */
  def ivfpqOpq(queries: DataFrame, corpus: DataFrame, k: Int,
      nCentroids: Int = 16, nProbe: Int = 4, m: Int = 8, pqK: Int = 16,
      shortlist: Int = 64, kmeansIters: Int = 2, dim: Int = 64): DataFrame = {
    val perm = opqAllocation(corpus, m, dim)
    // flat array of element_at over LITERAL indices — whole-stage
    // codegen'd straight-line loads, where the former
    // transform(sequence(...), i => element_at(u, element_at(permLit,
    // i))) was an interpreted higher-order lambda with a nested
    // literal lookup per element (ivfpqOpqRotated's §4 lesson applied
    // to the permutation; same output array bit for bit)
    def permuted(u: Column): Column =
      array(perm.map(p => element_at(u, lit(p))): _*)
    ivfpqReprojected(queries, corpus, k, permuted, nCentroids, nProbe,
      m, pqK, shortlist, kmeansIters, dim)
  }

  /** The shared OPQ serve path: coarse-assign on the ORIGINAL
    * vectors, reproject units through `reproject` (an orthonormal map
    * — L2/ADC ranking is basis-independent), PQ train/encode/ADC in
    * the reprojected basis, exact-cosine re-rank on the original
    * vectors. Both [[ivfpqOpq]] (permutation) and [[ivfpqOpqRotated]]
    * (full PCA rotation) route here, so the two forms cannot drift.
    */
  private def ivfpqReprojected(queries: DataFrame, corpus: DataFrame,
      k: Int, reproject: Column => Column, nCentroids: Int, nProbe: Int,
      m: Int, pqK: Int, shortlist: Int, kmeansIters: Int,
      dim: Int): DataFrame = {
    def permuted(u: Column): Column = reproject(u)
    val coarse = ivfCodebook(corpus, nCentroids, kmeansIters)
    val subDim = dim / m
    val nc = normed(corpus)
      .withColumn("cluster", array_max(centScoresFor(coarse, "v"))("i"))
      .withColumn("up", permuted(unit("v", "nrm")))
      .localCheckpoint(true) // frozen: PQ training AND encoding
    val pq = pqCodebooksOn(nc.select(col("vec_id"), col("up").as("u")),
      m, pqK, kmeansIters, dim)
    val cbLit = pqLit(pq)
    val enc = nc
      .withColumn("codes", transform(sequence(lit(0), lit(m - 1)),
        j => nearestCode(slice(col("up"), j * subDim + 1, lit(subDim)), j, cbLit)))
      .select(col("vec_id").as("neighbor_id"), col("v"), col("nrm"),
        col("cluster"), col("codes"))
    val qs = normed(queries)
      .withColumn("up", permuted(unit("v", "nrm")))
      .withColumn("dtab", transform(sequence(lit(0), lit(m - 1)),
        j => transform(element_at(cbLit, j + 1),
          c => l2sq(slice(col("up"), j * subDim + 1, lit(subDim)), c))))
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"), col("dtab"),
        explode(transform(
          slice(reverse(array_sort(centScoresFor(coarse, "v"))), 1, nProbe),
          p => p("i"))).as("cluster"))
    val adc = enc.join(qs, "cluster")
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"), col("qv"), col("qn"),
        col("v"), col("nrm"),
        aggregate(sequence(lit(0), lit(m - 1)), lit(0.0),
          (acc, j) => acc + element_at(element_at(col("dtab"), j + 1),
            element_at(col("codes"), j + 1) + 1)).as("adc"))
    val wsl = Window.partitionBy("query_id")
      .orderBy(col("adc").asc, col("neighbor_id").asc)
    val short = adc.withColumn("r", row_number().over(wsl))
      .filter(col("r") <= shortlist)
    val rescored = short.select(col("query_id"), col("neighbor_id"),
      Vectors.cosine(col("qv"), col("v"), col("qn"), col("nrm")).as("cos"))
    topK(rescored, k)
  }

  /** Uncentered second-moment matrix E-ish[u uᵀ] of the corpus UNIT
    * vectors (the energy matrix the OPQ rotation diagonalizes — PQ
    * encodes u directly, so uncentered is the relevant form), as
    * exact 2²⁰-scaled integer sums through ONE mergeable native
    * aggregate ([[graft.plans.PairProductSum]]): each map task folds
    * its partition into a single 2,080-cell 128-bit-exact partial, so
    * only partials cross the wire — the explode+groupBy form this
    * replaces shuffled dim·(dim+1)/2 rows PER VECTOR (the sf1 sweep's
    * 71 s build constant). Order-free integer sums keep the rotation
    * bit-identical run to run (the rows-only spec's determinism pin).
    */
  private[graft] def opqCovariance(corpus: DataFrame,
      dim: Int = 64): Array[Array[Double]] = {
    val scale = 1L << 20
    val row = normed(corpus)
      .withColumn("q", transform(unit("v", "nrm"),
        x => (x * scale).cast(LongType)))
      .agg(graft.plans.Sketches.pairProductSum(col("q"), dim).as("s"),
        count(lit(1)).as("n"))
      .head()
    val sums = row.getSeq[java.math.BigDecimal](0)
    val n = row.getLong(1).toDouble
    require(n > 0, "opqCovariance: empty corpus")
    val cov = Array.fill(dim, dim)(0.0)
    var idx = 0
    for (i <- 0 until dim; j <- i until dim) {
      val v = sums(idx).doubleValue() / scale.toDouble / scale.toDouble / n
      cov(i)(j) = v; cov(j)(i) = v
      idx += 1
    }
    cov
  }

  /** FULL OPQ ROTATION (the PCA basis in front of [[opqAllocation]]
    * — Ge et al. CVPR'13 §3's R, the part the REGISTERED s19 documents
    * as its restriction): eigenbasis of [[opqCovariance]] by power
    * iteration with Gram-Schmidt deflation — DIM×DIM driver-bounded
    * math (64² doubles; the corpus never leaves the executors beyond
    * the one covariance pass) — eigen-directions ordered by
    * eigenvalue and snake-dealt across the `m` subspaces exactly as
    * the allocation deals coordinate dimensions. Returns the rotation
    * ROWS (output position → basis vector).
    *
    * Determinism: the covariance is integer-exact, the iteration
    * starts from fixed seeds, re-orthogonalizes every step, and signs
    * are normalized (largest-|component| positive) — same corpus,
    * same rotation, every run. What this is NOT: SQL-oracle
    * reproducible — iterative float eigendecomposition has no
    * bit-stable DuckDB mirror, which is WHY the registered s19 keeps
    * the coordinate-basis allocation and this form is rows-only,
    * spec-pinned (orthonormality, run-to-run stability, and
    * recon-error dominance over allocation-only on an anisotropic
    * corpus).
    */
  def opqRotation(corpus: DataFrame, m: Int = 8, dim: Int = 64,
      powerIters: Int = 60): Seq[Seq[Double]] = {
    val cov = opqCovariance(corpus, dim)
    def matVec(a: Array[Array[Double]], v: Array[Double]): Array[Double] =
      Array.tabulate(dim)(i => (0 until dim).map(j => a(i)(j) * v(j)).sum)
    def dot(a: Array[Double], b: Array[Double]): Double =
      (0 until dim).map(i => a(i) * b(i)).sum
    val basis = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
    val eigVal = scala.collection.mutable.ArrayBuffer.empty[Double]
    (0 until dim).foreach { kdx =>
      var v = Array.tabulate(dim)(i =>
        if (i == kdx) 1.0 else 1e-3 / (i + 1).toDouble)
      (0 until powerIters).foreach { _ =>
        var w = matVec(cov, v)
        // Gram-Schmidt against the found basis every step: deflation
        // by projection keeps the iteration inside the orthogonal
        // complement even when eigenvalues cluster
        basis.foreach { b => val c = dot(w, b); w = w.zip(b).map { case (x, y) => x - c * y } }
        val nm = math.sqrt(dot(w, w))
        v = if (nm > 1e-12) w.map(_ / nm)
        else { // degenerate residual space: fall back to an
          // orthogonalized coordinate seed (still deterministic)
          var s = Array.tabulate(dim)(i => if (i == kdx) 1.0 else 0.0)
          basis.foreach { b => val c = dot(s, b); s = s.zip(b).map { case (x, y) => x - c * y } }
          val sn = math.sqrt(dot(s, s)); s.map(_ / math.max(sn, 1e-12))
        }
      }
      // sign convention: largest-|component| positive
      val pivot = (0 until dim).maxBy(i => (math.abs(v(i)), -i))
      if (v(pivot) < 0) v = v.map(x => -x)
      basis += v
      eigVal += dot(v, matVec(cov, v))
    }
    // eigen order is variance order — snake-deal directions across
    // the m subspaces exactly like opqAllocation deals coordinates
    val ranked = eigVal.indices.sortBy(i => (-eigVal(i), i)).zipWithIndex
    val groups = ranked.map { case (bi, r) =>
      val pos = r % m
      val grp = if ((r / m) % 2 == 0) pos else m - 1 - pos
      (grp, r, bi)
    }
    groups.sortBy { case (grp, r, _) => (grp, r) }
      .map { case (_, _, bi) => basis(bi).toSeq }.toSeq
  }

  /** [[ivfpqOpq]] with the FULL rotation in front: units reproject
    * through [[opqRotation]]'s basis (4096 codegen'd MACs per row —
    * one HOF expression, no UDF), then the shared serve path. The
    * rows-only sibling of the registered s19 (see [[opqRotation]] for
    * the oracle restriction).
    */
  def ivfpqOpqRotated(queries: DataFrame, corpus: DataFrame, k: Int,
      nCentroids: Int = 16, nProbe: Int = 4, m: Int = 8, pqK: Int = 16,
      shortlist: Int = 64, kmeansIters: Int = 2, dim: Int = 64): DataFrame = {
    val rot = opqRotation(corpus, m, dim)
    // one codegen'd primitive-loop DotProduct per output dimension —
    // NOT a nested higher-order expression (interpreted lambdas +
    // per-MAC element_at on a nested literal measured ~9x the whole
    // allocation-only entry at the sf1 sweep; this form is the same
    // dim² MACs through DotProduct's primitive loop)
    def rotated(u: Column): Column =
      array(rot.map(row => Vectors.dot(typedLit(row), u)): _*)
    ivfpqReprojected(queries, corpus, k, rotated, nCentroids, nProbe,
      m, pqK, shortlist, kmeansIters, dim)
  }

  /** Mean PQ reconstruction L2² of `u`-frame rows against codebook
    * `cb` — the codebook-quality metric the OPQ dominance spec pins
    * (lower = the code budget explains more of the corpus).
    */
  private[graft] def pqReconError(u: DataFrame, cb: PqCodebook,
      m: Int, dim: Int): Double = {
    val subDim = dim / m
    val cbLit = pqLit(cb)
    u.select(
      aggregate(sequence(lit(0), lit(m - 1)), lit(0.0), (acc, j) => {
        val sub = slice(col("u"), j * subDim + 1, lit(subDim))
        acc + l2sq(sub, element_at(element_at(cbLit, j + 1),
          nearestCode(sub, j, cbLit) + 1))
      }).as("e"))
      .agg(avg(col("e"))).collect()(0).getDouble(0)
  }

  /** RESIDUAL-encoded IVF-PQ (s18 — the full FAISS IVFPQ shape,
    * closing the trade [[ivfpq]]'s docstring prices): PQ codes
    * quantize each vector's RESIDUAL against its coarse centroid,
    * u − ĉ(cluster), instead of the unit vector itself. Residuals of
    * a cluster's members are centered near zero with a spread of one
    * CLUSTER radius instead of the whole sphere, so the same m×k code
    * budget spends its resolution on the only part of the vector the
    * coarse index hasn't already explained — the classic ~1 extra bit
    * of effective precision per dimension WHERE THE COARSE QUANTIZER
    * EXPLAINS VARIANCE (clustered corpora — real embedding spaces; on
    * a structureless uniform sphere |u − ĉ|² ≈ 2 and the win inverts,
    * which is why the dominance spec plants clusters and why the
    * exact re-rank below makes the choice a recall dial, never a
    * correctness one). The price is that ADC
    * tables become per-(query, probed cluster): the query re-centers
    * against EACH probed centroid (nProbe table builds instead of
    * one, each m·k·(dim/m) work — config-sized, never corpus-sized).
    * Candidate generation, shortlist, and the exact-cosine re-rank
    * are [[ivfpq]] verbatim, so reported scores stay exact whichever
    * coding generated the shortlist (recon-error dominance on a
    * planted clustered corpus is spec-pinned, and the registered
    * entry hash-gates against a DuckDB oracle that retrains coarse +
    * residual-PQ codebooks in SQL).
    */
  def ivfpqResidual(queries: DataFrame, corpus: DataFrame, k: Int,
      nCentroids: Int = 16, nProbe: Int = 4, m: Int = 8, pqK: Int = 16,
      shortlist: Int = 64, kmeansIters: Int = 2, dim: Int = 64): DataFrame = {
    val coarse = ivfCodebook(corpus, nCentroids, kmeansIters)
    val cuLit = unitCentroidsLit(coarse)
    val subDim = dim / m
    // member residual: u − ĉ(own cluster); one frame feeds PQ
    // training AND encoding (frozen — two consumers)
    val nc = normed(corpus)
      .withColumn("cluster", array_max(centScoresFor(coarse, "v"))("i"))
      .withColumn("u", unit("v", "nrm"))
      .withColumn("res", residual(col("u"), col("cluster"), cuLit))
      .localCheckpoint(true)
    val pq = pqCodebooksOn(nc.select(col("vec_id"), col("res").as("u")),
      m, pqK, kmeansIters, dim)
    val cbLit = pqLit(pq)
    val enc = nc
      .withColumn("codes", transform(sequence(lit(0), lit(m - 1)),
        j => nearestCode(slice(col("res"), j * subDim + 1, lit(subDim)), j, cbLit)))
      .select(col("vec_id").as("neighbor_id"), col("v"), col("nrm"),
        col("cluster"), col("codes"))
    // query side: residual (and therefore the ADC table) is PER
    // PROBED CLUSTER — computed after the probe explode
    val qs = normed(queries)
      .withColumn("u", unit("v", "nrm"))
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"), col("u"),
        explode(transform(
          slice(reverse(array_sort(centScoresFor(coarse, "v"))), 1, nProbe),
          p => p("i"))).as("cluster"))
      .withColumn("qres", residual(col("u"), col("cluster"), cuLit))
      .withColumn("dtab", transform(sequence(lit(0), lit(m - 1)),
        j => transform(element_at(cbLit, j + 1),
          c => l2sq(slice(col("qres"), j * subDim + 1, lit(subDim)), c))))
    val adc = enc.join(qs, "cluster")
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"), col("qv"), col("qn"),
        col("v"), col("nrm"),
        aggregate(sequence(lit(0), lit(m - 1)), lit(0.0),
          (acc, j) => acc + element_at(element_at(col("dtab"), j + 1),
            element_at(col("codes"), j + 1) + 1)).as("adc"))
    val wsl = Window.partitionBy("query_id")
      .orderBy(col("adc").asc, col("neighbor_id").asc)
    val short = adc.withColumn("r", row_number().over(wsl))
      .filter(col("r") <= shortlist)
    val rescored = short.select(col("query_id"), col("neighbor_id"),
      Vectors.cosine(col("qv"), col("v"), col("qn"), col("nrm")).as("cos"))
    topK(rescored, k)
  }

  /** Unit coarse centroids as a cid-indexed literal (ids are
    * 0..k−1 by the seeding rule; asserted). Config-sized.
    */
  private[graft] def unitCentroidsLit(cs: Codebook): Column = {
    val sorted = cs.sortBy(_._1)
    require(sorted.map(_._1).toSeq == (0 until cs.length),
      "coarse centroid ids must be the dense 0..k-1 seed range")
    typedLit(sorted.map { case (_, cv, ncv) => cv.map(_ / ncv).toSeq }.toSeq)
  }

  /** u − ĉ(cluster): per-component subtraction against the
    * cid-indexed unit-centroid literal.
    */
  private def residual(u: Column, cluster: Column, cuLit: Column): Column =
    zip_with(u, element_at(cuLit, cluster + 1), (a, b) => a - b)

  /** Near-dup pairs via sign-random-projection buckets + exact
    * verify — the REGISTERED scale path for d05. Candidate pairs come
    * from an equi-join on the (table, bucket) key (pairs only exist
    * where signatures collide — bounded shuffle, no
    * BroadcastNestedLoopJoin anywhere in the plan); candidates are
    * then re-scored with exact cosine and filtered to ≥ threshold, so
    * every pair REPORTED is exact.
    *
    * Recall contract: a pair at cosine s collides per table with
    * probability (1 - acos(s)/π)^bits; with the defaults and s ≥ 0.9
    * the miss probability across 8 tables is < 1e-5 (the regime
    * near-dup dedup targets). The deterministic seeded planes make the
    * candidate set — and therefore the full output — a pure function
    * of the input, which is what lets the DuckDB oracle reproduce it.
    */
  def nearDupLsh(emb: DataFrame, threshold: Double,
      tables: Int = 8, bits: Int = 6, dim: Int = 64,
      seed: Long = 7L): DataFrame = {
    // frozen: the normed view feeds bucketing AND both verify sides —
    // 4 embedding scans pre-freeze (Explain --execute audit)
    val n = normed(emb).localCheckpoint(true)
    // FIXED bit-width ⇒ bucket occupancy n/2^bits grows with the
    // corpus and per-bucket verify work grows with its square —
    // refuse past occupancy ~1k (the auto form re-derives bits)
    Gate.check(n, (1L << bits) * 1024L,
      "Ann.nearDupLsh (fixed bits)", "Ann.nearDupLshAuto")
    val cos = Vectors.cosine(col("va"), col("vb"), col("na"), col("nb"))
    lshCandidatePairs(n, tables, bits, dim, seed)
      .join(n.select(col("vec_id").as("id_a"), col("v").as("va"), col("nrm").as("na")), "id_a")
      .join(n.select(col("vec_id").as("id_b"), col("v").as("vb"), col("nrm").as("nb")), "id_b")
      .filter(cos >= threshold)
      .select(col("id_a"), col("id_b"), round(cos, 6).as("cosine"))
  }

  /** (vec_id, tbl, bucket) SRP signatures — the hashing stage of
    * [[lshCandidatePairs]], exposed so the probe can time it apart
    * from the collision join. One [[graft.plans.SrpSignatures]] pass:
    * all tables·bits sign bits in a single primitive loop (the
    * per-plane literal-array form cost 3.6-6.1s per side on the 10×
    * probe and dominated both d05 dials; this is the same bits,
    * bit-identically, in milliseconds).
    */
  private[graft] def lshBuckets(n: DataFrame, tables: Int,
      bits: Int, dim: Int, seed: Long): DataFrame = {
    val hp = planes(tables, bits, dim, seed)
    n.select(col("vec_id"),
      posexplode(graft.plans.VectorExpressions.srpSignatures(col("v"), hp))
        .as(Seq("tbl", "bucket")))
  }

  /** Distinct candidate pairs (id_a < id_b) from SRP bucket
    * collisions — the pre-verify stage of [[nearDupLsh]], exposed so
    * candidate VOLUME (the scale driver) can be measured directly.
    * Ids only through the join; vector payloads re-attach after the
    * distinct so each pair ships once, not once per colliding table.
    */
  private[graft] def lshCandidatePairs(n: DataFrame, tables: Int,
      bits: Int, dim: Int, seed: Long): DataFrame =
    BandedPairs.pairs(lshBuckets(n, tables, bits, dim, seed), "vec_id",
      Seq("tbl", "bucket"))

  /** Candidate-pair count for a corpus under the adaptive bit rule —
    * the quantity that must stay ~linear in n as the corpus grows
    * (pinned in LlmOpsSpec across a 1x/10x synthetic pair).
    */
  private[graft] def lshCandidateCount(emb: DataFrame, tables: Int = 8,
      dim: Int = 64, seed: Long = 7L): Long = {
    val n = normed(emb).localCheckpoint()
    lshCandidatePairs(n, tables, adaptiveBits(n.count()), dim, seed).count()
  }

  /** SRP bit-width for a corpus of `n` vectors: bits = max(floor,
    * ceil(log2 n) - 4), i.e. 2^bits buckets per table ≈ n/16 — mean
    * bucket occupancy stays ~16 regardless of corpus size. Fixed-width
    * LSH accrues QUADRATIC candidate volume as n grows past 2^bits ·
    * occupancy (measured in round 5's scale10x probe: bits=6 left the
    * 10x corpus at ~8x the candidate volume the same data needs at
    * bits=9); deriving bits from one cheap count() restores per-bucket
    * occupancy — candidate volume ≈ tables · n · occupancy/2 grows
    * linearly. The recall trade is the standard SRP dial: P(collide
    * per table) = (1 - acos(s)/π)^bits, so at the near-dup regime
    * (s ≥ 0.9, acos/π ≈ 0.14) each extra bit costs ~14% per-table
    * recall, recovered by the 8-table OR — miss probability at bits=9
    * is (1-0.86^9)^8 ≈ 2e-5.
    */
  def adaptiveBits(n: Long, floor: Int = 6): Int = {
    val ceilLog2 = if (n <= 1L) 0 else 64 - java.lang.Long.numberOfLeadingZeros(n - 1)
    math.max(floor, ceilLog2 - 4)
  }

  /** [[nearDupLsh]] with the bit-width derived from the corpus size —
    * the 100 TB default. One count() job sizes the hash family; the
    * registered d05 keeps fixed bits=6 only because its DuckDB oracle
    * is generated from the seeded planes, which requires the plane
    * count to be known before the data is read.
    */
  def nearDupLshAuto(emb: DataFrame, threshold: Double,
      tables: Int = 8, dim: Int = 64, seed: Long = 7L): DataFrame =
    nearDupLsh(emb, threshold, tables, adaptiveBits(emb.count()), dim, seed)

  /** Embedding near-dup pairs: all pairs with cosine ≥ threshold.
    * EXACT all-pairs baseline — spec-only oracle for [[nearDupLsh]]'s
    * recall; the registered d05 runs the bucketed plan above. At
    * 100 TB this block join is a cartesian: never register it.
    */
  def nearDupPairs(emb: DataFrame, threshold: Double): DataFrame = {
    val n = normed(emb)
    // the streamed side of the pair join inherits the (often single)
    // input file split count — repartition so the O(n²/2) candidate
    // scan parallelizes across the cluster
    val a = n.select(col("vec_id").as("id_a"), col("v").as("va"), col("nrm").as("na"))
      .repartition(col("id_a"))
    val b = n.select(col("vec_id").as("id_b"), col("v").as("vb"), col("nrm").as("nb"))
    val cos = Vectors.cosine(col("va"), col("vb"), col("na"), col("nb"))
    a.join(b, col("id_a") < col("id_b"))
      .filter(cos >= threshold)
      .select(col("id_a"), col("id_b"), round(cos, 6).as("cosine"))
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    * at web-scale through semantic deduplication"): cluster the
    * embedding space with the IVF coarse codebook, then compare pairs
    * ONLY within a cluster — the third candidate-generation strategy
    * next to d05's LSH buckets (fixed random geometry) and s03's
    * probes (query-time): data-adaptive regions whose size the
    * codebook controls. Candidate volume is Σ|cluster|²/2 ≈
    * n²/(2·nCentroids) for balanced lists (the k-means refinement's
    * balance guarantee is what keeps the worst list bounded — pinned
    * in LlmOpsSpec), and the pair join is an equi-join on the cluster
    * key, so the shuffle moves each row once. Reported pairs are
    * exact cosine ≥ threshold (quantization decides only WHO gets
    * compared, never the score); the paper's contract — near-dups at
    * high cosine co-cluster with overwhelming probability, cross-
    * cluster misses are the accepted trade — is spec-pinned on
    * planted dups.
    */
  def semDedup(emb: DataFrame, threshold: Double,
      nCentroids: Int = 16, kmeansIters: Int = 2): DataFrame = {
    val cb = ivfCodebook(emb, nCentroids, kmeansIters)
    pairsWithinCluster(assigned(emb, cb), "cluster", threshold)
  }

  // ---------------------------------------------------------------
  // DataFrame-native k-means: the codebook as DATA, not as driver
  // literals. The literal-expression codebook above embeds every
  // centroid in the assign expression (O(k) expression size), which
  // tops out around hundreds of centroids; SemDeDup at corpus scale
  // needs k ∝ n to hold cluster occupancy constant. Here centroids
  // live in a DataFrame end-to-end — nothing codebook-sized reaches
  // the driver, and means accumulate 2^40-scaled integers in a
  // DECIMAL(38,0) sum (order-independent → run-stable, no
  // member-count overflow cliff). Assignment is two-level: below
  // [[RouteThreshold]] centroids every vector scores every centroid
  // (exact argmax, a bounded broadcast); above it, vectors ROUTE
  // through ~√k coarse cells so per-row work is O(√k), not O(k) —
  // with the Auto dials setting k ∝ n, the direct form would be the
  // one quadratic left in the engine (O(n²/occupancy) at 10⁹
  // vectors: a GB-scale broadcast and millions of dot products per
  // row).

  /** Direct assignment: every vector scores EVERY centroid via a
    * bounded broadcast — exact argmax. Correct at any k, affordable
    * only below [[RouteThreshold]]; [[assignViaJoin]] picks the form.
    * `cents` must hold UNIT centroid vectors (cid, cv). Tie-break:
    * highest cosine, then lowest cid — deterministic.
    */
  private[graft] def assignDirect(n: DataFrame, cents: DataFrame): DataFrame =
    n.join(broadcast(cents))
      .select(col("vec_id"), col("v"), col("nrm"),
        struct((Vectors.dot(col("v"), col("cv")) / col("nrm")).as("s"),
          (-col("cid")).as("negcid"), col("cid")).as("sc"))
      .groupBy("vec_id")
      .agg(any_value(col("v")).as("v"), any_value(col("nrm")).as("nrm"),
        max(col("sc")).as("best"))
      .select(col("vec_id"), col("v"), col("nrm"), col("best.cid").as("cid"))

  /** Centroid count above which assignment routes through coarse
    * cells. 256 centroids × 64 dims is a ~128 KB broadcast and 256
    * dot products per row — the regime where exact direct scoring is
    * both cheaper than routing overhead and exactly right; past it,
    * per-row work and broadcast size grow with k, which the Auto
    * dials tie to n.
    */
  private[graft] val RouteThreshold = 256L

  /** Corpus rows with their nearest-centroid id: (vec_id, v, nrm,
    * cid) — exact below [[RouteThreshold]], two-level routed above
    * it. Deterministic either way (seeded coarse training, struct
    * tie-breaks), and total: every input vector appears in the
    * output exactly once (routing only probes cells that hold at
    * least one registered centroid).
    */
  private[graft] def assignViaJoin(n: DataFrame, cents: DataFrame,
      k: Long, nProbe: Int = 2): DataFrame =
    if (k <= RouteThreshold) assignDirect(n, cents)
    else {
      val (vCell, centCell) = routedSides(n, cents, k, nProbe)
      routedScored(vCell, centCell)
        .groupBy("vec_id")
        .agg(any_value(col("v")).as("v"), any_value(col("nrm")).as("nrm"),
          max(col("sc")).as("best"))
        .select(col("vec_id"), col("v"), col("nrm"), col("best.cid").as("cid"))
    }

  /** The two routed frames: vectors tagged with their best coarse
    * cell, and centroids registered under their `nProbe` nearest
    * cells. Split out so the spec can count the candidate volume —
    * the quantity routing exists to bound.
    *
    * Routing recovers the argmax whenever a vector's nearest
    * centroid registers in the vector's best cell; centroid-side
    * spilling (each centroid lives in `nProbe` cells, the
    * SPANN-style redundancy) covers cell boundaries while the HUGE
    * side — the corpus — keeps a single map-side argmax with an O(1)
    * aggregation buffer. The residual miss (a vector whose true
    * centroid sits outside all `nProbe` cells of its own best cell)
    * moves a vector to a near-tied neighboring cluster: for the
    * SemDeDup/k-NN consumers the contract that matters is that
    * NEAR-IDENTICAL vectors route identically — which holds by
    * construction, routing is a deterministic function of the vector
    * — so planted-dup recall survives (spec-pinned).
    */
  private[graft] def routedSides(n: DataFrame, cents: DataFrame,
      k: Long, nProbe: Int): (DataFrame, DataFrame) = {
    val (live, centCell) = registeredCells(cents, k, nProbe)
    // vector -> its single best LIVE cell (cells with no registered
    // centroid are excluded up front, so the cell equi-join below can
    // never drop a vector). One bounded √k broadcast + a map-side
    // max with an O(1) buffer — the corpus side never windows,
    // collects, or sees anything k-sized.
    val vCell = n.join(broadcast(live))
      .select(col("vec_id"), col("v"), col("nrm"),
        struct((Vectors.dot(col("v"), col("cv")) / col("nrm")).as("s"),
          (-col("cid")).as("negcell")).as("sc"))
      .groupBy("vec_id")
      .agg(any_value(col("v")).as("v"), any_value(col("nrm")).as("nrm"),
        max(col("sc")).as("best"))
      .select(col("vec_id"), col("v"), col("nrm"),
        (-col("best.negcell")).as("cell"))
    (vCell, centCell)
  }

  /** The coarse-cell registration stage shared by argmax routing
    * ([[routedSides]]) and top-n probe routing ([[probeRouted]]):
    * the LIVE coarse codebook (cells holding ≥1 registered centroid)
    * and the centroid→cell registration under each centroid's
    * `nProbe` nearest cells.
    */
  private[graft] def registeredCells(cents: DataFrame, k: Long,
      nProbe: Int): (DataFrame, DataFrame) = {
    val kc = math.max(4L, math.round(math.sqrt(k.toDouble)))
    // coarse codebook over the CENTROID frame itself: k rows — corpus-
    // independent cost — and kc ≈ √k cells keep both routed stages at
    // O(√k) per row. Recursion terminates: √k ≤ RouteThreshold until
    // k > 65536, and shrinks by √ per level after that.
    val centsAsCorpus = cents
      .select(col("cid").as("vec_id"), col("cv").as("v"), lit(1.0).as("nrm"))
    val coarse = kmeansNormed(centsAsCorpus, kc, kmeansIters = 1)
      .localCheckpoint(true)
    // centroid -> its nProbe nearest cells (k × √k work, all bounded;
    // the per-group collect_list buffer is √k structs, distributed
    // over k groups)
    val centCell = centsAsCorpus.join(broadcast(coarse))
      .select(col("vec_id").as("ccid"), col("v").as("ccv"),
        struct(Vectors.dot(col("v"), col("cv")).as("s"),
          (-col("cid")).as("negcell")).as("sc"))
      .groupBy("ccid")
      .agg(any_value(col("ccv")).as("ccv"),
        slice(reverse(array_sort(collect_list(col("sc")))), 1, nProbe).as("top"))
      .select(col("ccid").as("cid"), col("ccv").as("cv"),
        explode(col("top")).as("sc"))
      .select(col("cid"), col("cv"), (-col("sc.negcell")).as("cell"))
      // frozen: consumed by the live-cell filter AND the scoring
      // equi-join (k·nProbe rows — centroid-sized, never corpus-sized)
      .localCheckpoint(true)
    val live = coarse.join(
      centCell.select(col("cell").as("cid")).distinct(), Seq("cid"), "left_semi")
    (live, centCell)
  }

  /** Query-side ARG-TOP-nProbe centroids, two-level ROUTED — the
    * probe stage of every IVF consumer, lifted past [[RouteThreshold]]
    * the way [[assignViaJoin]] lifts the argmax (the r14 verdict's
    * named scale-killer: a direct probe is O(n·k) with a broadcast
    * that grows with the pool — O(n²/occupancy) once the Auto dials
    * tie k to n). Each query keeps its `cellProbes` best coarse cells
    * (the argmax router keeps one — top-n needs the n winners' cells
    * covered, not just the winner's) and scores only the centroids
    * registered there: per-query work ≈ cellProbes²·√k, O(√k), and
    * both joins are bounded broadcasts (√k cells; √k·cellProbes
    * registered centroids per cell). A centroid reachable through two
    * cells is deduped (array_distinct on bitwise-identical structs —
    * the dot product is deterministic) before the top-n slice, so the
    * tie-break matches [[probeDirect]] exactly. Routed == direct
    * whenever each query's true top-nProbe centroids register within
    * its probed cells — spec-pinned on a >RouteThreshold pool, with
    * the coverage asserted, not assumed.
    * Returns (vec_id, v, nrm, top: array<struct(s, negcid, cid)>).
    */
  private[graft] def probeRouted(n: DataFrame, cents: DataFrame, k: Long,
      nProbe: Int, cellProbes: Int = 4): DataFrame = {
    val (live, centCell) = registeredCells(cents, k, cellProbes)
    val qCells = n.join(broadcast(live))
      .select(col("vec_id"), col("v"), col("nrm"),
        struct((Vectors.dot(col("v"), col("cv")) / col("nrm")).as("s"),
          (-col("cid")).as("negcell")).as("sc"))
      .groupBy("vec_id")
      .agg(any_value(col("v")).as("v"), any_value(col("nrm")).as("nrm"),
        slice(reverse(array_sort(collect_list(col("sc")))), 1, cellProbes)
          .as("cells"))
      .select(col("vec_id"), col("v"), col("nrm"),
        explode(col("cells")).as("c"))
      .select(col("vec_id"), col("v"), col("nrm"),
        (-col("c.negcell")).as("cell"))
    qCells.join(centCell, "cell")
      .select(col("vec_id"), col("v"), col("nrm"),
        struct((Vectors.dot(col("v"), col("cv")) / col("nrm")).as("s"),
          (-col("cid")).as("negcid"), col("cid")).as("sc"))
      .groupBy("vec_id")
      .agg(any_value(col("v")).as("v"), any_value(col("nrm")).as("nrm"),
        slice(reverse(array_sort(array_distinct(collect_list(col("sc"))))),
          1, nProbe).as("top"))
  }

  /** Query-side arg-top-nProbe centroids, DIRECT: every query scores
    * every centroid through one bounded broadcast — exact, affordable
    * only below [[RouteThreshold]]; [[probeTopN]] picks the form.
    * Tie-break (score desc, cid asc) = [[assignDirect]] extended from
    * argmax to arg-top-n.
    */
  private[graft] def probeDirect(n: DataFrame, cents: DataFrame,
      nProbe: Int): DataFrame =
    n.join(broadcast(cents))
      .select(col("vec_id"), col("v"), col("nrm"),
        struct((Vectors.dot(col("v"), col("cv")) / col("nrm")).as("s"),
          (-col("cid")).as("negcid"), col("cid")).as("sc"))
      .groupBy("vec_id")
      .agg(any_value(col("v")).as("v"), any_value(col("nrm")).as("nrm"),
        slice(reverse(array_sort(collect_list(col("sc")))), 1, nProbe).as("top"))

  /** Arg-top-nProbe with the form picked by centroid count — the
    * probe-side sibling of [[assignViaJoin]].
    */
  private[graft] def probeTopN(n: DataFrame, cents: DataFrame, k: Long,
      nProbe: Int): DataFrame =
    if (k <= RouteThreshold) probeDirect(n, cents, nProbe)
    else probeRouted(n, cents, k, nProbe)

  /** The routed candidate stage: vectors equi-joined to the
    * centroids registered in their best cell — per-row work ≈
    * nProbe·k/kc ≈ nProbe·√k, and the join key means the shuffle
    * moves each row once. Exposed so the spec can pin the candidate
    * volume against the n·k the direct form would score.
    */
  private[graft] def routedScored(vCell: DataFrame, centCell: DataFrame): DataFrame =
    vCell.join(centCell, "cell")
      .select(col("vec_id"), col("v"), col("nrm"),
        struct((Vectors.dot(col("v"), col("cv")) / col("nrm")).as("s"),
          (-col("cid")).as("negcid"), col("cid")).as("sc"))

  /** Distributed spherical k-means: returns (cid, cv) with UNIT
    * centroid vectors, seeded from the first `k` corpus vectors.
    * Each Lloyd iteration is one assign join + one scaled-long mean
    * aggregation, both fully distributed; localCheckpoint cuts the
    * iterative lineage (the DupGroups discipline). Empty clusters
    * keep their previous centroid.
    */
  def kmeansDf(corpus: DataFrame, k: Long, kmeansIters: Int = 2): DataFrame =
    kmeansNormed(normed(corpus), k, kmeansIters)

  /** [[kmeansDf]] over an already-normed (vec_id, v, nrm) frame —
    * the form [[routedSides]] reuses to cluster the centroid frame
    * itself.
    */
  private[graft] def kmeansNormed(n: DataFrame, k: Long,
      kmeansIters: Int): DataFrame = {
    require(k >= 1, "k must be positive")
    // seed from the k LOWEST vec_ids by RANK, not value (a filtered or
    // re-keyed shard whose ids don't start at 0 still seeds
    // correctly). Rank is a two-phase prefix sum — range-partition on
    // vec_id, per-partition row_number, add the collected partition
    // offsets (≤64 longs reach the driver) — because with k ∝ n both
    // a global limit(k) and an unpartitioned row_number window would
    // funnel n/occupancy rows through ONE task.
    val seed = lowestKByRank(n, k)
      .select(col("rank").as("cid"),
        transform(col("v"), x => x / col("nrm")).as("cv"))
      .localCheckpoint(true)
    val scale = 1L << 40
    (0 until kmeansIters).foldLeft(seed) { (cents, _) =>
      val means = assignViaJoin(n, cents, k)
        .select(col("cid"),
          posexplode(transform(col("v"), x => x / col("nrm")))
            .as(Seq("pos", "x")))
        .groupBy("cid", "pos")
        // decimal(38,0) accumulator: integer-exact and order-free like
        // a long, but with headroom to ~10^25 members per (cid, pos) —
        // the fixed-k paths (clusterSizes, small-k kmeansDf on a large
        // corpus) can exceed the ~2^23-member cliff a long sum has
        .agg(sum((col("x") * scale).cast("long").cast("decimal(38,0)")).as("s"),
          count(lit(1)).as("cnt"))
        .groupBy("cid")
        .agg(transform(
          array_sort(collect_list(struct(col("pos"), col("s"), col("cnt")))),
          e => e("s").cast("double") / scale / e("cnt")).as("mv"))
      val next = cents.join(means, Seq("cid"), "left")
        .withColumn("mnrm",
          sqrt(aggregate(col("mv"), lit(0.0), (a, x) => a + x * x)))
        .select(col("cid"),
          when(col("mv").isNull || col("mnrm") === 0.0, col("cv"))
            .otherwise(transform(col("mv"), x => x / col("mnrm"))).as("cv"))
        .localCheckpoint(true)
      // the superseded codebook (k rows, k ∝ n/occupancy under the
      // auto dials — corpus-scaled) is dead once `next` is frozen
      org.apache.spark.sql.graftbridge.RddBridge.unpersistCheckpoint(cents)
      next
    }
  }

  /** The k lowest-vec_id rows of a normed frame with their exact
    * global rank (0-based) attached — the x16/x18 two-phase
    * prefix-sum discipline: range-partition on vec_id so partition
    * order IS global order, row_number within each partition
    * (partitioned window — no single-task funnel), then add the
    * per-partition offsets, of which only ≤`parts` longs ever reach
    * the driver. Partitions whose offset already exceeds k skip the
    * local sort entirely.
    */
  private[graft] def lowestKByRank(n: DataFrame, k: Long,
      parts: Int = 64): DataFrame = {
    // pinned so the count pass and the rank pass see the SAME
    // partition ids (range partitioning is deterministic, but the
    // checkpoint also saves recomputing the input twice)
    val ranged = n.repartitionByRange(parts, col("vec_id"))
      .select(col("vec_id"), col("v"), col("nrm"),
        spark_partition_id().as("pid"))
      .localCheckpoint(true)
    val counts = ranged.groupBy("pid").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val offsets = (0 until parts).scanLeft(0L) {
      (acc, p) => acc + counts.getOrElse(p, 0L)
    }
    val offCol = element_at(
      typedLit(offsets.indices.map(i => i -> offsets(i)).toMap), col("pid"))
    val w = Window.partitionBy("pid").orderBy("vec_id")
    ranged.filter(offCol < k)
      .withColumn("rank",
        row_number().over(w).cast("long") + offCol - 1)
      .filter(col("rank") < k)
      .select(col("vec_id"), col("v"), col("nrm"), col("rank"))
  }

  /** Cluster-occupancy histogram (cid, n) for a given k — Σn² bounds
    * semDedup's candidate volume; used by the scale spec and for
    * capacity planning.
    */
  def clusterSizes(emb: DataFrame, k: Long, kmeansIters: Int = 2): DataFrame =
    assignViaJoin(normed(emb), kmeansDf(emb, k, kmeansIters), k)
      .groupBy("cid").agg(count(lit(1)).as("n"))

  /** The shared SemDeDup pair stage: exact-cosine pairs within a
    * cluster, from an assigned frame (vec_id, v, nrm, `key`). Both
    * the fixed-k and adaptive-k paths route here, so the threshold /
    * rounding / ordering discipline cannot diverge between them.
    */
  private def pairsWithinCluster(assigned: DataFrame, key: String,
      threshold: Double): DataFrame = {
    // frozen: both sides of the within-cluster self-join consume the
    // assigned frame — without the freeze each re-runs the full
    // normalize+assign (2 embedding scans pre-freeze, for the fixed-k
    // AND adaptive paths, which both route here)
    val frozen = assigned.localCheckpoint(true)
    val x = frozen.select(col("vec_id").as("id_a"), col("v").as("va"),
      col("nrm").as("na"), col(key))
    val y = frozen.select(col("vec_id").as("id_b"), col("v").as("vb"),
      col("nrm").as("nb"), col(key))
    val cos = Vectors.cosine(col("va"), col("vb"), col("na"), col("nb"))
    x.join(y, Seq(key))
      .filter(col("id_a") < col("id_b"))
      .filter(cos >= threshold)
      .select(col("id_a"), col("id_b"), round(cos, 6).as("cosine"))
  }

  /** SemDeDup with CORPUS-ADAPTIVE centroid count: k = max(16,
    * n/occupancy) holds expected cluster size ~constant, so the
    * within-cluster candidate volume Σ|c|²/2 grows ~linearly with
    * the corpus where a fixed k accrues n²/(2k) — the same dial as
    * d05's adaptiveBits, enabled by the DataFrame-native codebook
    * (spec-pinned on a 1×/10× synthetic pair). The registered d10
    * stays fixed-k for run-to-run comparability; this is the path a
    * 100× corpus takes.
    */
  def semDedupAuto(emb: DataFrame, threshold: Double,
      occupancy: Long = 256L, kmeansIters: Int = 2): DataFrame = {
    val n = emb.count()
    val k = math.max(16L, n / occupancy)
    val a = assignViaJoin(normed(emb), kmeansDf(emb, k, kmeansIters), k)
    pairsWithinCluster(a, "cid", threshold)
  }

  /** The corpus-scale k-NN graph: [[knnGraph]]'s fixed codebook keeps
    * per-cluster membership ∝ n/k, so at fixed k the within-cluster
    * candidate work grows quadratically (the 10× bench probe shows
    * exactly that: ratio ~9 at k=16). This dial holds OCCUPANCY
    * constant instead — k ∝ n via the DataFrame-native k-means, so
    * candidate volume stays ~n·occupancy and the graph scales
    * linearly. The trade is single-probe recall (each vector scores
    * only its own cluster, the SemDeDup regime — multi-probe with
    * k ∝ n would need a quantizer hierarchy); the planted-neighbor
    * spec pins what that buys.
    */
  def knnGraphAuto(emb: DataFrame, k: Int, occupancy: Long = 256L,
      kmeansIters: Int = 2): DataFrame = {
    val n = emb.count()
    val kc = math.max(16L, n / occupancy)
    // frozen: member and query roles both consume the assignment
    val a = assignViaJoin(normed(emb), kmeansDf(emb, kc, kmeansIters), kc)
      .localCheckpoint(true)
    val members = a.select(col("vec_id").as("neighbor_id"), col("v"),
      col("nrm"), col("cid"))
    val queries = a.select(col("vec_id").as("query_id"), col("v").as("qv"),
      col("nrm").as("qn"), col("cid"))
    val scored = members.join(queries, "cid")
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        Vectors.cosine(col("qv"), col("v"), col("qn"), col("nrm")).as("cos"))
    topK(scored, k)
  }

  /** GRAPH-BASED ANN: IVF-SEEDED NSW BEAM SEARCH (s20 — the
    * graph-traversal retrieval regime of HNSW/Vamana, re-expressed
    * relationally; closes the one ANN family the IVF stack lacked).
    * The navigable graph is the occupancy-held k-NN graph
    * ([[knnGraphAuto]]'s plan over the SAME adaptive assignment),
    * SYMMETRIZED — NSW's undirected navigation edges; search seeds
    * from one entry point per coarse cluster (its min-id member) and
    * walks: each hop expands the current beam's neighbors, scores
    * only the NEWLY-visited nodes, and keeps the best `beam` visited
    * per query. This is single-layer NSW with a coarse-quantizer seed
    * in place of HNSW's upper layers (the hierarchy is a seeding
    * device; the layer-0 beam walk below it is THIS algorithm — the
    * restriction is documented, not hidden).
    *
    * Scale shape: seeding scores nq × (n/occupancy) entry points —
    * exactly the IVF coarse-probe cost s03 already pays — and each
    * hop is a frontier-keyed equi-join into the edge list plus an
    * anti-join against the visited set: per-query work is bounded by
    * beam·degree·hops, corpus work by the edge list (n·graphK rows).
    * Nothing rescans the corpus after the graph build; the walk's
    * frontier frames are beam-bounded per query.
    *
    * Determinism: ranking quantizes cosines to integer µ-units
    * (round ×1e6 — the s15 discipline) with node-id tie-breaks, so
    * beam membership — and therefore the whole traversal — is a pure
    * function of the input and the DuckDB oracle replays it hop by
    * hop; reported cosines are the exact doubles (strict fold).
    */
  /** knnGraphAuto's symmetrized navigation-edge list over one
    * assigned frame — THE graph both [[nswSearch]] (layer 0) and
    * [[hnswSearch]] (every layer) build, factored so the two
    * registered oracle-gated entries cannot drift.
    */
  private def navEdges(assigned: DataFrame, graphK: Int): DataFrame = {
    val members = assigned.select(col("vec_id").as("neighbor_id"),
      col("v"), col("nrm"), col("cid"))
    val gq = assigned.select(col("vec_id").as("query_id"),
      col("v").as("qv"), col("nrm").as("qn"), col("cid"))
    val scored = members.join(gq, "cid")
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        Vectors.cosine(col("qv"), col("v"), col("qn"), col("nrm")).as("cos"))
    val dir = topK(scored, graphK)
      .select(col("query_id").as("a"), col("neighbor_id").as("b"))
    dir.unionByName(dir.select(col("b").as("a"), col("a").as("b")))
      .distinct().localCheckpoint(true)
  }

  /** Per-query scorer for (query_id, node) pairs: exact cosine plus
    * the integer µ-cosine every beam/rank decision keys on.
    */
  private def nodeScorer(nodeVecs: DataFrame,
      qn: DataFrame): DataFrame => DataFrame = pairs => {
    val cos = Vectors.cosine(col("qv"), col("v"), col("qn"), col("nrm"))
    pairs.join(nodeVecs, "node").join(qn, "query_id")
      .select(col("query_id"), col("node"), cos.as("cos"),
        round(cos * 1000000, 0).cast(LongType).as("cosu"))
  }

  /** Best `beam` visited nodes per query — (µ-cosine DESC, node ASC),
    * the shared deterministic cut.
    */
  private def cutBeam(v: DataFrame, beam: Int): DataFrame = {
    val wb = Window.partitionBy("query_id")
      .orderBy(col("cosu").desc, col("node").asc)
    v.withColumn("__r", row_number().over(wb)).filter(col("__r") <= beam)
      .drop("__r")
  }

  /** One graph's beam walk from per-query (query_id, node) entries:
    * score the entries, then `hops` expand / anti-join-visited /
    * score-fresh / re-cut steps. Returns the visited-with-scores
    * frame; each step is beam-bounded per query.
    */
  private def beamWalk(g: DataFrame, entries: DataFrame,
      score: DataFrame => DataFrame, beam: Int, hops: Int): DataFrame = {
    var visited = score(entries).localCheckpoint(true)
    var frontier = cutBeam(visited, beam)
    (1 to hops).foreach { _ =>
      val expand = frontier.select("query_id", "node")
        .join(g, col("node") === col("a"))
        .select(col("query_id"), col("b").as("node")).distinct()
      val fresh = expand.join(visited.select("query_id", "node"),
        Seq("query_id", "node"), "left_anti")
      val prev = visited
      visited = visited.unionByName(score(fresh)).localCheckpoint(true)
      // the superseded visited frame is folded into the new eager
      // checkpoint — dead; drop its blocks (d20's retention lesson)
      org.apache.spark.sql.graftbridge.RddBridge.unpersistCheckpoint(prev)
      frontier = cutBeam(visited, beam)
    }
    visited
  }

  /** Final per-query ranking over a walk's visited set. */
  private def rankVisited(visited: DataFrame, k: Int): DataFrame = {
    val wr = Window.partitionBy("query_id")
      .orderBy(col("cosu").desc, col("node").asc)
    visited.filter(col("node") =!= col("query_id"))
      .withColumn("rank", row_number().over(wr).cast("int"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("node").as("neighbor_id"),
        round(col("cos"), 6).as("cosine"))
  }

  def nswSearch(queries: DataFrame, corpus: DataFrame, k: Int,
      graphK: Int = 3, beam: Int = 8, hops: Int = 3,
      occupancy: Long = 256L, kmeansIters: Int = 2): DataFrame = {
    val n = corpus.count()
    val kc = math.max(16L, n / occupancy)
    val a = assignViaJoin(normed(corpus), kmeansDf(corpus, kc, kmeansIters), kc)
      .localCheckpoint(true) // graph members+queries, entries, node vectors
    // adjacency: knnGraphAuto's exact plan over this assignment
    val g = navEdges(a, graphK)
    // TWO entry points per coarse cluster (min and max member id):
    // a cell can host more than one semantic blob whose intra-cell
    // kNN edges never cross (each blob's top-graphK neighbors are its
    // own members) — a single entry then strands the walk in the
    // wrong blob. Two id-extremal seeds make beam pruning, which
    // keeps the best-SCORING entries per query, resolve the blob
    // choice instead of the entry lottery. Still Θ(n/occupancy)
    // seeds — the s03 coarse-probe cost shape. (hnswSearch replaces
    // this seeding with a real layer hierarchy.)
    val entries = a.groupBy("cid")
      .agg(min("vec_id").as("lo"), max("vec_id").as("hi"))
      .select(explode(array(col("lo"), col("hi"))).as("node")).distinct()
    val nodeVecs = a.select(col("vec_id").as("node"), col("v"), col("nrm"))
    val qn = normed(queries).select(col("vec_id").as("query_id"),
      col("v").as("qv"), col("nrm").as("qn")).localCheckpoint(true)
    val score = nodeScorer(nodeVecs, qn)
    val visited = beamWalk(g, qn.select("query_id").crossJoin(entries),
      score, beam, hops)
    rankVisited(visited, k)
  }

  /** HIERARCHICAL graph ANN (s21 — the full HNSW shape, closing
    * [[nswSearch]]'s documented single-layer restriction): a stack of
    * NESTED layers where layer ℓ holds a deterministic ~1/decay^ℓ
    * sample of the corpus with its own navigable graph, searched by
    * DESCENT — enter at the sparse top layer, beam-walk it, carry the
    * best beam down as the next layer's entries, finish with the
    * layer-0 walk over the full graph. The hierarchy replaces
    * [[nswSearch]]'s IVF seeding: entry quality comes from
    * progressively denser graphs instead of coarse-cell extremal ids,
    * so two semantic blobs sharing a coarse cell no longer depend on
    * the two-seed workaround (spec-pinned on exactly that planted
    * case).
    *
    * Level assignment is HNSW's geometric distribution made
    * DETERMINISTIC (the oracle-portability discipline): node ∈ layer ℓ
    * iff ((vec_id % 10⁶) · 2654435761) % 1000003 · decay^ℓ < 1000003 —
    * a RANGE cut on the golden-ratio hash (Fibonacci hashing's
    * high-bits rule; a second modulus instead leaks the id
    * progression's structure — measured: step-32 id families landed
    * ALL-or-NOTHING in layer 2). Layers nest by construction and both
    * engines compute the same sample. Layer graphs are the SAME
    * occupancy-held k-NN build
    * as layer 0 (per-layer adaptive k-means, k = max(16,
    * n_ℓ/occupancy)), so every layer's build cost is ~n_ℓ·graphK and
    * the stack totals ~4/3 of the base graph at decay 4.
    *
    * Scale shape: `levels` is the corpus dial — pick levels ≈
    * log_decay(n/minTop) so the top layer is constant-sized and the
    * exhaustive top-layer entry scoring (nq × n/decay^levels) stays
    * bounded; every walk below it is beam-bounded per query exactly
    * like [[nswSearch]]. Determinism: identical µ-cosine/node-id
    * ranking at every step, so the full descent replays in the DuckDB
    * oracle hop by hop, layer by layer.
    */
  def hnswSearch(queries: DataFrame, corpus: DataFrame, k: Int,
      graphK: Int = 3, beam: Int = 8, hops: Int = 3,
      occupancy: Long = 256L, levels: Int = 2, decay: Int = 4,
      kmeansIters: Int = 2): DataFrame = {
    require(levels >= 1 && decay >= 2, "need at least one sparse layer")
    def layerPred(l: Int): Column =
      (col("vec_id") % 1000000L) * 2654435761L % 1000003L *
        math.pow(decay.toDouble, l.toDouble).toLong < 1000003L
    def layerAssigned(sub: DataFrame): DataFrame = {
      val nl = sub.count()
      require(nl >= 1, "hnswSearch: a layer is empty — lower `levels`")
      val kcl = math.max(16L, nl / occupancy)
      assignViaJoin(normed(sub), kmeansDf(sub, kcl, kmeansIters), kcl)
        .localCheckpoint(true)
    }
    // per-layer graphs: navEdges — knnGraphAuto's plan, the SAME
    // helper nswSearch's layer 0 uses (cannot drift)
    val a0 = layerAssigned(corpus)
    val g0 = navEdges(a0, graphK)
    val gUp = (1 to levels).map { l =>
      l -> navEdges(layerAssigned(corpus.filter(layerPred(l))), graphK)
    }.toMap
    val nodeVecs = a0.select(col("vec_id").as("node"), col("v"), col("nrm"))
    val qn = normed(queries).select(col("vec_id").as("query_id"),
      col("v").as("qv"), col("nrm").as("qn")).localCheckpoint(true)
    val score = nodeScorer(nodeVecs, qn)
    // descent: exhaustive entry at the constant-sized top layer, then
    // carry each layer's best beam down as the next layer's entries
    // (layers nest, so carried nodes exist in every layer below)
    var entries: DataFrame = qn.select("query_id")
      .crossJoin(corpus.filter(layerPred(levels))
        .select(col("vec_id").as("node")))
    (levels to 1 by -1).foreach { l =>
      entries = cutBeam(beamWalk(gUp(l), entries, score, beam, hops), beam)
        .select("query_id", "node")
    }
    rankVisited(beamWalk(g0, entries, score, beam, hops), k)
  }

  /** MMR (maximal marginal relevance, Carbonell & Goldstein '98)
    * re-ranking: greedily pick `k` results balancing relevance to the
    * query against redundancy with what's already picked —
    * score = λ·rel − (1−λ)·max_sim(selected). THE standard diversity
    * re-rank in RAG retrieval, where the raw top-k is five paraphrases
    * of one passage.
    *
    * Scale shape: MMR is inherently sequential in k, but everything
    * sequential is SHORTLIST-bounded — the corpus-sized work is the
    * one [[brute]] (or IVF) pass producing the shortlist; after that,
    * the pairwise-sim table is |Q|·shortlist² rows and each of the
    * k−1 greedy steps is a shortlist-bounded join + per-query argmax
    * window, fully distributed ACROSS queries (a million queries run
    * their greedy loops in parallel; only the k trips are serial).
    * All compare keys are ROUND(,6) scores (the s07 discipline), so
    * the greedy trajectory is reproducible cross-engine. The step
    * loop doubles the `selected` lineage per trip — fine at k ≤ ~8;
    * larger k should checkpoint per step.
    */
  def mmrRerank(queries: DataFrame, corpus: DataFrame, k: Int = 5,
      shortlist: Int = 12, lam: Double = 0.7): DataFrame = {
    // Frozen: the shortlist, the pairwise-sim table, and each step's
    // selected set all feed EVERY subsequent greedy trip — without a
    // freeze the `selected` lineage doubles per trip (measured: 964
    // parquet scans in the k=5 plan). These frames are |Q|·shortlist-
    // bounded (not corpus-sized), so eager checkpoints are the right
    // trade here, unlike d14's corpus-sized recompute.
    val cand = brute(queries, corpus, shortlist)
      .select(col("query_id"), col("neighbor_id"), col("cosine").as("rel"))
      .localCheckpoint(true)
    val n = normed(corpus)
    val withVec = cand.join(
      n.select(col("vec_id").as("neighbor_id"), col("v"), col("nrm")),
      "neighbor_id")
    val a = withVec.select(col("query_id"), col("neighbor_id").as("a"),
      col("v").as("av"), col("nrm").as("an"))
    val b = withVec.select(col("query_id"), col("neighbor_id").as("b"),
      col("v").as("bv"), col("nrm").as("bn"))
    val pair = a.join(b, Seq("query_id")).filter(col("a") =!= col("b"))
      .select(col("query_id"), col("a"), col("b"),
        round(Vectors.cosine(col("av"), col("bv"), col("an"), col("bn")), 6)
          .as("sim"))
      .localCheckpoint(true)
    val w = Window.partitionBy("query_id")
    val first = cand
      .withColumn("rn",
        row_number().over(w.orderBy(col("rel").desc, col("neighbor_id"))))
      .filter(col("rn") === 1)
      .select(col("query_id"), col("neighbor_id"),
        lit(1).cast(IntegerType).as("rank"), col("rel").as("score"))
    var selected = first
    for (step <- 2 to k) {
      val selKeys = selected.select(col("query_id"), col("neighbor_id"))
      val remaining = cand.join(selKeys, Seq("query_id", "neighbor_id"),
        "left_anti")
      val maxSim = pair
        .join(selKeys.withColumnRenamed("neighbor_id", "b"),
          Seq("query_id", "b"))
        .groupBy(col("query_id"), col("a").as("neighbor_id"))
        .agg(max("sim").as("max_sim"))
      val pick = remaining.join(maxSim, Seq("query_id", "neighbor_id"))
        .withColumn("score",
          round(lit(lam) * col("rel") - lit(1.0 - lam) * col("max_sim"), 6))
        .withColumn("rn",
          row_number().over(w.orderBy(col("score").desc, col("neighbor_id"))))
        .filter(col("rn") === 1)
        .select(col("query_id"), col("neighbor_id"),
          lit(step).cast(IntegerType).as("rank"), col("score"))
      val prev = selected
      selected = selected.unionByName(pick).localCheckpoint(true)
      // step > 2: the superseded selected frame was itself a
      // checkpoint, folded into the new one — drop its blocks
      if (step > 2) org.apache.spark.sql.graftbridge.RddBridge
        .unpersistCheckpoint(prev)
    }
    selected
  }

  /** SQ8 SERVING — top-k by inner product over the int8-quantized
    * corpus (the scalar-quantized index most vector stores default
    * to): the corpus side carries ONLY its uint8 codes (1 byte/dim vs
    * 4 as float / 8 as double — at 100 TB of vectors the 4-8× scan-IO
    * cut IS the feature), and scoring is ASYMMETRIC: the float query
    * never quantizes. The per-query algebra makes the hot loop an
    * integer-weighted dot product:
    *   ip(q, dequant(c)) = Σ q_i·mn_i  +  Σ (q_i·span_i/255)·code_i
    * so the first term folds into one per-query constant and the
    * second streams over codes with a precomputed scaled query — no
    * reconstruction materializes. Affine stats (mn, span per dim) are
    * the x26 pass-1 aggregate (DIM rows, driver-bounded); queries
    * broadcast as in [[brute]]. Exact-math discipline: codes are
    * exact integers (identical floor/clamp in both engines) and both
    * dot products are strict left-folds, so ranks hash-gate.
    */
  def sq8Serve(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val c = corpus.select(col("vec_id"),
      Vectors.toDouble(col("embedding")).as("v"))
    val stats = c.select(posexplode(col("v")).as(Seq("i", "x")))
      .groupBy("i").agg(min("x").as("mn"), (max("x") - min("x")).as("span"))
      .orderBy("i").collect()
    val mnArr = array(stats.map(r => lit(r.getDouble(1))).toIndexedSeq: _*)
    val spArr = array(stats.map(r => lit(r.getDouble(2))).toIndexedSeq: _*)
    // the stored index: vec_id + codes, nothing else survives the scan
    val codes = transform(col("v"), (x, i) => {
      val mn = element_at(mnArr, i + 1)
      val span = element_at(spArr, i + 1)
      when(span === 0.0, lit(0)).otherwise(
        least(lit(255), greatest(lit(0),
          floor((x - mn) * lit(255.0) / span + lit(0.5)).cast(IntegerType))))
    })
    val coded = c.select(col("vec_id"), codes.as("codes"))
    val q = queries.select(col("vec_id").as("query_id"),
        Vectors.toDouble(col("embedding")).as("qv"))
      .select(col("query_id"),
        Vectors.dot(col("qv"), mnArr).as("qc"),
        transform(col("qv"), (x, i) =>
          x * element_at(spArr, i + 1) / lit(255.0)).as("qs"))
    val scored = coded.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (col("qc") + Vectors.dot(col("qs"),
          transform(col("codes"), _.cast(DoubleType)))).as("ip"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("ip").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast(IntegerType).as("rank"),
        col("neighbor_id"), round(col("ip"), 6).as("adc_ip"))
  }
}
