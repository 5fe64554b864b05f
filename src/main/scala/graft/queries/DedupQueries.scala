package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{Text, Vectors}
import graft.operators.{Ann, Bpe, Dedup, DupGroups, Multimodal, Packing, PageRank}
import graft.sources.Catalog

/** SURVEY.md §2.D1 — deduplication entries (d01–d19 + autos), split out of LlmOps along the family seam; semantics, oracles, and helper constants are unchanged. */
object DedupQueries extends QDsl {

  val d01: Q = q("d01_dedup_exact",
    """SELECT MIN(doc_id) AS doc_id, md5(text) AS content_hash, COUNT(*) AS n_copies
      |FROM documents GROUP BY md5(text) ORDER BY doc_id""") { c =>
    Dedup.exact(c.documents).orderBy("doc_id")
  }

  // d02 — MinHash+LSH candidates verified with exact Jaccard. The
  // registered family is ENGINE-PORTABLE (shingle hash = 15 hex chars
  // of md5 decoded to a 60-bit BIGINT, slots = the seeded affine
  // family on h mod 2^31 — every term < 2^63 so plain BIGINT
  // arithmetic reproduces it, band bucket = md5 of the '|'-joined
  // mins), so the oracle below reproduces signatures, buckets, and
  // therefore the EXACT candidate set. The 32 min-aggregates / 8 band
  // branches are generated from the SAME Hashing.minhashParams(32)
  // constants the operator uses — one source of truth for the family.
  private[queries] val d02SigAggs = graft.functions.Hashing.minhashParams(32)
    .zipWithIndex.map { case ((a, b), j) =>
      s"min(($a*h31 + $b) % 2305843009213693951) AS mh$j" }.mkString(", ")
  private[queries] val d02BandSelects = (0 until 8).map { b =>
    val ms = (b * 4 until b * 4 + 4).map(j => s"mh$j").mkString(" || '|' || ")
    s"SELECT doc_id, $b AS band, md5($ms) AS bucket FROM sig"
  }.mkString(" UNION ALL ")
  private[queries] val d02OracleSql =
    s"""WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
      |shs AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t)-1),
      |         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS s
      |       FROM toks WHERE len(t) >= 3),
      |sh AS (SELECT DISTINCT doc_id,
      |         CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) AS shingle FROM shs),
      |hv AS (SELECT doc_id, shingle % 2147483647 AS h31 FROM sh),
      |sig AS (SELECT doc_id, $d02SigAggs FROM hv GROUP BY doc_id),
      |bk AS ($d02BandSelects),
      |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |         FROM bk a JOIN bk b ON a.band = b.band AND a.bucket = b.bucket
      |          AND a.doc_id < b.doc_id),
      |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      |inter AS (SELECT c.id_a, c.id_b, COUNT(*) AS i
      |          FROM cand c
      |          JOIN sh a ON a.doc_id = c.id_a
      |          JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
      |          GROUP BY 1, 2)
      |SELECT id_a, id_b, ROUND(CAST(i AS DOUBLE)/(sa.n + sb.n - i), 6) AS jaccard
      |FROM inter JOIN sizes sa ON id_a = sa.doc_id JOIN sizes sb ON id_b = sb.doc_id
      |WHERE CAST(i AS DOUBLE)/(sa.n + sb.n - i) >= 0.5
      |ORDER BY id_a, id_b"""
  val d02: Q = q("d02_dedup_minhash", d02OracleSql) { c =>
    Dedup.minhashPairs(c.documents, n = 3, threshold = 0.5)
      .orderBy("id_a", "id_b")
  }

  // d02_auto — the d19 band planner as the family's DEFAULT dial
  // (r14 verdict item: bandPlan was a standalone entry; here it
  // derives d02's banding from d02's own verify threshold). It makes
  // the SAME call as d02: minhashPairs plans its bands from the
  // threshold by default, and bandPlan(32, 0.5) = 8×4 is computed
  // from constants alone, so the two entries are identical on EVERY
  // input by construction, not only on the test corpus, and the entry
  // hash-gates d02's oracle VERBATIM (the spec pins the planned split
  // against an explicit 8×4 in-engine). d18/e23's persisted indexes
  // take the same default (bands=0 → planned), so a threshold change
  // re-plans the whole family at once instead of drifting per-operator.
  val d02auto: Q = q("d02_dedup_minhash_auto", d02OracleSql) { c =>
    Dedup.minhashPairs(c.documents, n = 3, threshold = 0.5)
      .orderBy("id_a", "id_b")
  }

  private val d16MatchTerms = (0 until 32).map(j =>
    s"(CASE WHEN a.mh$j = b.mh$j THEN 1 ELSE 0 END)").mkString(" + ")

  // d16 — MinHash FIDELITY report (the s11 eval discipline applied to
  // dedup): for every LSH candidate pair, the signature-estimated
  // Jaccard (matching slots / 32, the unbiased MinHash estimator)
  // beside the exact set Jaccard, plus the corpus MAE roll-up
  // (id -1/-1) — the calibration artifact that justifies a band/row
  // dial before the estimator is trusted at scale. Same plan as d02
  // through the candidate join; additions are one 32-term indicator
  // sum per pair and an integer-scaled (micro-units) error roll-up,
  // so the mean is one double division with no float summation order
  // to disagree on. ORACLE-GATED end to end from the same generated
  // family constants as d02.
  val d16: Q = q("d16_minhash_fidelity",
    s"""WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
      |shs AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t)-1),
      |         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS s
      |       FROM toks WHERE len(t) >= 3),
      |sh AS (SELECT DISTINCT doc_id,
      |         CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) AS shingle FROM shs),
      |hv AS (SELECT doc_id, shingle % 2147483647 AS h31 FROM sh),
      |sig AS (SELECT doc_id, $d02SigAggs FROM hv GROUP BY doc_id),
      |bk AS ($d02BandSelects),
      |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |         FROM bk a JOIN bk b ON a.band = b.band AND a.bucket = b.bucket
      |          AND a.doc_id < b.doc_id),
      |m AS (SELECT c.id_a, c.id_b, $d16MatchTerms AS matches
      |      FROM cand c JOIN sig a ON a.doc_id = c.id_a
      |                  JOIN sig b ON b.doc_id = c.id_b),
      |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      |inter AS (SELECT c.id_a, c.id_b, COUNT(*) AS i
      |          FROM cand c
      |          JOIN sh a ON a.doc_id = c.id_a
      |          JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
      |          GROUP BY 1, 2),
      |p AS (SELECT m.id_a, m.id_b,
      |    ROUND(CAST(matches AS DOUBLE) / 32, 6) AS est_jaccard,
      |    ROUND(CAST(COALESCE(i, 0) AS DOUBLE)
      |      / (sa.n + sb.n - COALESCE(i, 0)), 6) AS exact_jaccard
      |  FROM m LEFT JOIN inter ON inter.id_a = m.id_a AND inter.id_b = m.id_b
      |  JOIN sizes sa ON m.id_a = sa.doc_id JOIN sizes sb ON m.id_b = sb.doc_id),
      |e AS (SELECT id_a, id_b, est_jaccard, exact_jaccard,
      |    ROUND(ABS(est_jaccard - exact_jaccard), 6) AS abs_err FROM p)
      |SELECT id_a, id_b, est_jaccard, exact_jaccard, abs_err FROM e
      |UNION ALL
      |SELECT -1, -1, CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
      |  ROUND(CAST(SUM(CAST(ROUND(abs_err * 1000000) AS BIGINT)) AS DOUBLE)
      |    / (1000000.0 * COUNT(*)), 6) FROM e
      |ORDER BY id_a, id_b""") { c =>
    Dedup.minhashFidelity(c.documents, n = 3)
      .orderBy("id_a", "id_b")
  }

  // d03 — SimHash fingerprint + hamming-banded near-dups. Like d02,
  // the registered family is ENGINE-PORTABLE: 60-bit fingerprints
  // whose bit j is the sign of Σ ±1 over bit j of the md5-derived
  // shingle hashes, 4×15-bit chunk pigeonhole for candidates, exact
  // hamming = bit_count(xor) — every step BIGINT arithmetic DuckDB
  // reproduces, so d03 is oracle-gated. The 60 bit-sum aggregates /
  // fingerprint assembly / 4 chunk branches are generated below.
  private val d03BitSums = (0 until 60).map(j =>
    s"SUM(CASE WHEN (shingle >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS b$j")
    .mkString(", ")
  private val d03FpTerms = (0 until 60).map(j =>
    s"(CASE WHEN b$j > 0 THEN ${1L << j} ELSE 0 END)").mkString(" + ")
  private val d03Chunks = (0 until 4).map(i =>
    s"SELECT doc_id, f, $i AS ci, (f >> ${i * 15}) & 32767 AS cv FROM fp")
    .mkString(" UNION ALL ")
  private val d03OracleSql =
    s"""WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
      |shs AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t)-1),
      |         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS s
      |       FROM toks WHERE len(t) >= 3),
      |sh AS (SELECT DISTINCT doc_id,
      |         CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) AS shingle FROM shs),
      |bits AS (SELECT doc_id, $d03BitSums FROM sh GROUP BY doc_id),
      |fp AS (SELECT doc_id, $d03FpTerms AS f FROM bits),
      |ch AS ($d03Chunks),
      |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
      |           a.f AS fa, b.f AS fb
      |         FROM ch a JOIN ch b ON a.ci = b.ci AND a.cv = b.cv
      |          AND a.doc_id < b.doc_id)
      |SELECT id_a, id_b, CAST(bit_count(xor(fa, fb)) AS INT) AS hamming
      |FROM cand WHERE bit_count(xor(fa, fb)) <= 3
      |ORDER BY id_a, id_b"""

  val d03: Q = q("d03_dedup_simhash", d03OracleSql) { c =>
    Dedup.simhashPairs(c.documents, n = 3, maxDist = 3)
      .orderBy("id_a", "id_b")
  }

  // d03 AUTO — the banding dial: the 4×15-bit chunk pigeonhole's
  // random (birthday) collisions grow n²/2¹⁵ (measured 78× candidate
  // volume at the 10× corpus), so past ~8k docs the dial re-bands to
  // Manku-style (b−3)-block subset keys (Dedup.simhashBlocks — wider
  // keys, C(b,3) tables, collisions n²/2³⁰⁺). The reported pairs are
  // IDENTICAL to d03's (candidate superset + the same exact hamming
  // filter), so the auto dial shares d03's DuckDB oracle — hash-gated,
  // not recall-tested, like d05_auto.
  val d03auto: Q = q("d03_dedup_simhash_auto", d03OracleSql) { c =>
    Dedup.simhashPairsAuto(c.documents, n = 3, maxDist = 3)
      .orderBy("id_a", "id_b")
  }

  // d04 — exact n-gram Jaccard pairs via inverted shingle index
  private val d04OracleSql =
    """WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
      |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t)-1),
      |         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS shingle
      |       FROM toks WHERE len(t) >= 3),
      |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
      |          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2)
      |SELECT id_a, id_b, ROUND(CAST(inter AS DOUBLE)/(sa.n + sb.n - inter), 6) AS jaccard
      |FROM pairs JOIN sizes sa ON id_a = sa.doc_id JOIN sizes sb ON id_b = sb.doc_id
      |WHERE CAST(inter AS DOUBLE)/(sa.n + sb.n - inter) >= 0.5
      |ORDER BY id_a, id_b"""
  val d04: Q = q("d04_ngram_jaccard", d04OracleSql) { c =>
    // maxDf = 1000 ≫ this corpus's max shingle DF (25 at sf0.1), so
    // the oracle output is the uncapped exact result while the
    // REGISTERED plan carries the stop-shingle DF filter that bounds
    // the self-join at corpus scale (VERDICT r2 "What's wrong" #2)
    Dedup.ngramJaccardPairs(c.documents, n = 3, threshold = 0.5, maxDf = 1000L)
      .orderBy("id_a", "id_b")
  }

  // d04_auto — the OCCUPANCY dial for the inverted-index family
  // (Dedup.jaccardDfCapAuto): one shingle-index aggregation measures
  // (rows, docs) and sets the stop-shingle cap to budget / s̄ — the
  // expected candidate partners PER DOC hold at the budget across
  // corpora with different doc lengths, the d03_auto/d17_auto recipe
  // applied to the last fixed dial on the dedup board. On this corpus
  // the derived cap (≈ budget/52 ≫ max DF 7) doesn't bind, so the
  // entry hash-gates against d04's own uncapped oracle; the 10×/100×
  // probes carry the scale evidence where the cap DOES work.
  val d04auto: Q = q("d04_ngram_jaccard_auto", d04OracleSql) { c =>
    Dedup.ngramJaccardPairsAuto(c.documents, n = 3, threshold = 0.5)
      .orderBy("id_a", "id_b")
  }

  // d12 — shingle CONTAINMENT (id_a ⊆ id_b): normalizes the
  // intersection by the SMALLER side only, catching quote/boilerplate
  // doc-in-doc families that Jaccard's union denominator drowns.
  // Same inverted-index + stop-list scale shape as d04; same
  // maxDf=1000 ≫ corpus-max reasoning for oracle equivalence.
  val d12: Q = q("d12_containment",
    """WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
      |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t)-1),
      |         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS shingle
      |       FROM toks WHERE len(t) >= 3),
      |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
      |          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
      |          GROUP BY 1, 2)
      |SELECT id_a, id_b, ROUND(CAST(inter AS DOUBLE)/sa.n, 6) AS containment
      |FROM pairs JOIN sizes sa ON id_a = sa.doc_id
      |WHERE sa.n >= 10 AND CAST(inter AS DOUBLE)/sa.n >= 0.9
      |ORDER BY id_a, id_b""") { c =>
    Dedup.containmentPairs(c.documents, n = 3, threshold = 0.9, maxDf = 1000L)
      .orderBy("id_a", "id_b")
  }

  // d13 — CONTENT-DEFINED chunk dedup (LBFS Rabin chunking at token
  // granularity): boundaries fall where the rolling-context hash ≡ 0
  // mod the divisor, so an edit near a doc's head re-aligns within
  // ~one chunk instead of shifting every fixed-width chunk after it —
  // the property d07 lacks on edited near-dups, and why dedup STORES
  // chunk this way. Keep-first per chunk hash; per-doc rollup of
  // chunks vs survivors. ORACLE-GATED since r11: the registered
  // family cuts on the md5-60-bit context hash (the d02/d03 portable
  // idiom), so DuckDB re-derives the IDENTICAL boundaries — trailing
  // 3-token context per position, running-sum chunk ids, md5 chunk
  // hashes, global keep-first — and the per-doc rollup hash-compares.
  // The xxhash64 family keeps the insertion-robustness spec.
  val d13: Q = q("d13_cdc_chunk_dedup",
    """WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
      |flat AS (SELECT doc_id, unnest(range(1, len(t)+1)) AS i, t FROM toks),
      |cut AS (SELECT doc_id, i - 1 AS pos, t[i] AS tok,
      |          CASE WHEN i >= 3 AND
      |            CAST('0x' || substr(md5(t[i-2] || ' ' || t[i-1] || ' ' || t[i]), 1, 15) AS BIGINT) % 8 = 0
      |          THEN 1 ELSE 0 END AS c
      |        FROM flat),
      |ck AS (SELECT doc_id, pos, tok,
      |         COALESCE(SUM(c) OVER (PARTITION BY doc_id ORDER BY pos
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_id
      |       FROM cut),
      |chunks AS (SELECT doc_id, chunk_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
      |             md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_hash
      |           FROM ck GROUP BY doc_id, chunk_id),
      |kept AS (SELECT doc_id, n_tokens,
      |           CASE WHEN ROW_NUMBER() OVER (PARTITION BY chunk_hash
      |                  ORDER BY doc_id, chunk_id) = 1 THEN 1 ELSE 0 END AS k
      |         FROM chunks)
      |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
      |  CAST(SUM(k) AS BIGINT) AS n_kept,
      |  CAST(SUM(n_tokens * (1 - k)) AS BIGINT) AS dup_tokens
      |FROM kept GROUP BY doc_id ORDER BY doc_id""") { c =>
    val chunks = Dedup.cdcChunks(c.documents, portableHash = true)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("chunk_hash")
      .orderBy("doc_id", "chunk_id")
    val kept = chunks
      .withColumn("__rn", row_number().over(w))
      .withColumn("__kept", when(col("__rn") === 1, 1L).otherwise(0L))
    kept.groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"), sum(col("__kept")).as("n_kept"),
        sum(col("n_tokens") * (lit(1L) - col("__kept"))).as("dup_tokens"))
      .orderBy("doc_id")
  }

  // d06 — dedup GROUPS: transitive closure over the exact n-gram
  // Jaccard pairs (d04's graph) via iterative min-label connected
  // components, with a canonical doc per group. The oracle reproduces
  // the closure with a recursive CTE (reachability -> min reachable
  // id), so the full pair->group->canonical pipeline is hash-compared.
  val d06: Q = q("d06_dedup_groups",
    """WITH RECURSIVE toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
      |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t)-1),
      |         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS shingle
      |       FROM toks WHERE len(t) >= 3),
      |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
      |          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2),
      |pairs AS (SELECT id_a, id_b FROM inter
      |          JOIN sizes sa ON id_a = sa.doc_id JOIN sizes sb ON id_b = sb.doc_id
      |          WHERE CAST(i AS DOUBLE)/(sa.n + sb.n - i) >= 0.5),
      |edges AS (SELECT id_a AS u, id_b AS v FROM pairs
      |          UNION ALL SELECT id_b, id_a FROM pairs),
      |reach(id, r) AS (SELECT u, u FROM edges
      |                 UNION
      |                 SELECT reach.id, e.v FROM reach JOIN edges e ON e.u = reach.r),
      |comp AS (SELECT id, MIN(r) AS canonical_id FROM reach GROUP BY id),
      |gs AS (SELECT canonical_id, COUNT(*) AS group_size FROM comp GROUP BY canonical_id)
      |SELECT id AS doc_id, comp.canonical_id, gs.group_size,
      |       (id = comp.canonical_id) AS is_canonical
      |FROM comp JOIN gs USING (canonical_id) ORDER BY doc_id""") { c =>
    DupGroups.groups(
        Dedup.ngramJaccardPairs(c.documents, n = 3, threshold = 0.5, maxDf = 1000L))
      .orderBy("doc_id")
  }

  // d15 — dedup SURVIVORSHIP: which copy of each near-dup group to
  // KEEP. d06 answers "which docs group together" with a min-id
  // canonical; real curation keeps the HIGHEST-QUALITY copy (the
  // boilerplate-stripped mirror should lose to the clean original
  // regardless of crawl order), so the survivor is the group's
  // argmax of x02's quality score with doc_id as the deterministic
  // tiebreak. Composition: d06's candidate pairs + label
  // propagation, one broadcast-size score projection joined back,
  // ONE per-group window (rank-limit shape — groups are dup-cluster
  // sized, never corpus sized). The oracle re-derives groups with
  // the recursive CTE, recomputes the identical rounded score, and
  // must agree on every keep/drop decision.
  val d15: Q = q("d15_dedup_survivorship",
    s"""WITH RECURSIVE toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
      |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t)-1),
      |         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS shingle
      |       FROM toks WHERE len(t) >= 3),
      |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
      |          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2),
      |pairs AS (SELECT id_a, id_b FROM inter
      |          JOIN sizes sa ON id_a = sa.doc_id JOIN sizes sb ON id_b = sb.doc_id
      |          WHERE CAST(i AS DOUBLE)/(sa.n + sb.n - i) >= 0.5),
      |edges AS (SELECT id_a AS u, id_b AS v FROM pairs
      |          UNION ALL SELECT id_b, id_a FROM pairs),
      |reach(id, r) AS (SELECT u, u FROM edges
      |                 UNION
      |                 SELECT reach.id, e.v FROM reach JOIN edges e ON e.u = reach.r),
      |comp AS (SELECT id, MIN(r) AS canonical_id FROM reach GROUP BY id),
      |q AS (SELECT doc_id,
      |        ROUND(0.5 * LEAST(1.0, CAST(len(t) AS DOUBLE) / 100.0)
      |          + 0.5 * (CAST(len(list_filter(t, x -> x IN ${SharedSql.inList(Text.enStops)})) AS DOUBLE) / len(t)), 6) AS score
      |      FROM toks),
      |r AS (SELECT comp.id AS doc_id, comp.canonical_id, q.score,
      |        ROW_NUMBER() OVER (PARTITION BY comp.canonical_id
      |          ORDER BY q.score DESC, comp.id) AS rn
      |      FROM comp JOIN q ON q.doc_id = comp.id),
      |sv AS (SELECT canonical_id, doc_id AS survivor_id FROM r WHERE rn = 1),
      |gs AS (SELECT canonical_id, COUNT(*) AS group_size FROM comp GROUP BY canonical_id)
      |SELECT r.doc_id, r.canonical_id, gs.group_size, r.score,
      |  sv.survivor_id, (r.doc_id = sv.survivor_id) AS keep
      |FROM r JOIN sv USING (canonical_id) JOIN gs USING (canonical_id)
      |ORDER BY r.doc_id""") { c =>
    val groups = DupGroups.groups(
      Dedup.ngramJaccardPairs(c.documents, n = 3, threshold = 0.5, maxDf = 1000L))
    val t = Text.tokens(col("text"))
    val nTok = size(t).cast(DoubleType)
    val scores = c.documents.select(col("doc_id"),
      round(lit(0.5) * least(lit(1.0), nTok / 100.0)
        + lit(0.5) * (Text.hitCount(t, Text.enStops).cast(DoubleType) / nTok), 6)
        .as("score"))
    val full = Window.partitionBy("canonical_id")
      .orderBy(col("score").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    groups.join(scores, "doc_id")
      .select(col("doc_id"), col("canonical_id"), col("group_size"), col("score"),
        first(col("doc_id")).over(full).as("survivor_id"))
      .withColumn("keep", col("doc_id") === col("survivor_id"))
      .orderBy("doc_id")
  }

  private def d05OracleSql(threshold: Double, tables: Int, bits: Int,
      dim: Int, seed: Long): String = {
    val branches = SharedSql.srpBucketBranches(tables, bits, dim, seed)
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |n AS (SELECT vec_id, v, sqrt(list_reduce(list_transform(v, x -> x*x), (a, x) -> a + x)) AS nrm FROM e),
       |b AS ($branches),
       |cand AS (SELECT DISTINCT a.vec_id AS ia, bb.vec_id AS ib
       |         FROM b a JOIN b bb ON a.tbl = bb.tbl AND a.bucket = bb.bucket AND a.vec_id < bb.vec_id)
       |SELECT ia AS id_a, ib AS id_b,
       |  ROUND(list_reduce(list_transform(range(1, ${dim + 1}), i -> x.v[i]*y.v[i]), (acc, t) -> acc + t)
       |        / (x.nrm*y.nrm), 6) AS cosine
       |FROM cand JOIN n x ON x.vec_id = ia JOIN n y ON y.vec_id = ib
       |WHERE list_reduce(list_transform(range(1, ${dim + 1}), i -> x.v[i]*y.v[i]), (acc, t) -> acc + t)
       |      / (x.nrm*y.nrm) >= $threshold
       |ORDER BY id_a, id_b""".stripMargin
  }

  // d05 — embedding near-dup pairs, REGISTERED as the bucketed scale
  // path (VERDICT r2 "What's wrong" #1): seeded-SRP equi-join
  // candidates + exact cosine verify. The exact all-pairs block join
  // (Ann.nearDupPairs) is demoted to the spec-only recall oracle.
  // COMPARE-SCALE DIAL: bits are fixed at 6 so the oracle can mirror
  // the constant; occupancy grows with n, so at warehouse scale use
  // d05_auto / Ann.nearDupLshAuto (README "Scale dials").
  val d05: Q = q("d05_embedding_neardup",
    d05OracleSql(threshold = 0.4, tables = 8, bits = 6, dim = 64, seed = 7L)) { c =>
    Ann.nearDupLsh(c.embeddings, threshold = 0.4,
        tables = 8, bits = 6, dim = 64, seed = 7L)
      .orderBy("id_a", "id_b")
  }

  /** The driver's oracle-compare corpus size (sf0.01 embeddings) —
    * the AUTO d05's oracle must know the SRP bit-width before the data
    * is read, so the count is pinned here and guarded by an
    * LlmOpsSpec invariant (a regenerated test corpus that changes it
    * fails the pin, not the hash).
    */
  private[graft] val oracleEmbCount = 500L

  // d05 AUTO — the production-default dial (Ann.adaptiveBits: bits
  // derived from one corpus count() so bucket occupancy stays ~16 at
  // any scale) promoted into the hash-gated registry: the REGISTERED
  // plan runs the real runtime derivation (count → bits → seeded
  // planes), and the oracle mirrors the same derived constant from
  // the pinned compare-scale count. At sf0.01 both sides resolve to
  // adaptiveBits(500)=6; at bench scale (sf0.1, n=2000) the same code
  // path widens to 7 bits — the dial the fixed-bits d05 cannot turn.
  val d05auto: Q = q("d05_embedding_neardup_auto",
    d05OracleSql(threshold = 0.4, tables = 8,
      bits = Ann.adaptiveBits(oracleEmbCount), dim = 64, seed = 7L)) { c =>
    Ann.nearDupLshAuto(c.embeddings, threshold = 0.4,
        tables = 8, dim = 64, seed = 7L)
      .orderBy("id_a", "id_b")
  }

  // d10 — SemDeDup: semantic (embedding-space) dedup with k-means-
  // cluster-bounded candidates — the data-adaptive third candidate
  // strategy next to d05's LSH and d04's inverted index; reported
  // pairs are exact cosine. Oracle-gated since round 11: the DuckDB
  // oracle retrains the codebook (ivfTrainSql — bit-identical
  // centroids) and hash-compares the full pair set; planted-dup
  // recall stays pinned in LlmOpsSpec.
  val d10: Q = q("d10_semdedup",
    s"""${SharedSql.ivfTrainSql(nCentroids = 16)}
       |SELECT x.vec_id AS id_a, y.vec_id AS id_b,
       |  ROUND(${SharedSql.ivfDot("x.v", "y.v")} / (x.nrm*y.nrm), 6) AS cosine
       |FROM af x JOIN af y ON x.cid = y.cid AND x.vec_id < y.vec_id
       |WHERE ${SharedSql.ivfDot("x.v", "y.v")} / (x.nrm*y.nrm) >= 0.4
       |ORDER BY id_a, id_b""".stripMargin) { c =>
    // registered at the same 0.4 threshold regime as d05 (the
    // synthetic corpus is near-orthogonal gaussian noise; the paper's
    // >=0.9 regime is what the planted-dup spec pins)
    Ann.semDedup(c.embeddings, threshold = 0.4)
      .orderBy("id_a", "id_b")
  }

  // d10 AUTO — the corpus-adaptive dial: k = max(16, n/occupancy)
  // holds cluster occupancy constant (candidate volume ~linear in n
  // where fixed k accrues n²/2k), and past Ann.RouteThreshold
  // centroids the assignment itself goes two-level — vectors route
  // through ~√k coarse cells and equi-join on the cell id, so no
  // stage ever scores all k centroids (with k ∝ n the direct form
  // would be the engine's one remaining quadratic). Rows-only like
  // d10; routing totality/determinism/recall pinned in LlmOpsSpec,
  // the 100× probe in Bench runs this dial with routing live.
  // Oracle-gated since round 11 (kmeansAutoTrainSql — the adaptive-k,
  // rank-seeded, unit-centroid mirror); the routed k > RouteThreshold
  // regime stays pinned by the routing-contracts spec.
  val d10auto: Q = q("d10_semdedup_auto",
    s"""${SharedSql.kmeansAutoTrainSql()}
       |SELECT x.vec_id AS id_a, y.vec_id AS id_b,
       |  ROUND(${SharedSql.ivfDot("x.v", "y.v")} / (x.nrm*y.nrm), 6) AS cosine
       |FROM kaf x JOIN kaf y ON x.cid = y.cid AND x.vec_id < y.vec_id
       |WHERE ${SharedSql.ivfDot("x.v", "y.v")} / (x.nrm*y.nrm) >= 0.4
       |ORDER BY id_a, id_b""".stripMargin) { c =>
    Ann.semDedupAuto(c.embeddings, threshold = 0.4)
      .orderBy("id_a", "id_b")
  }

  // d11 — incremental ingest dedup: the new batch (md5 doc_id bucket
  // >= 'c', ~25%) dedups against the accumulated corpus (the other
  // ~75%) via a Bloom filter built over the BATCH digests — the
  // corpus side is scanned once, never shuffled whole, and only the
  // fpp-sized sliver is grouped with the batch on digest (see
  // Dedup.incremental). Result is exact despite the approximate
  // prefilter, so it is oracle-gated like d01. Digest = 64-char
  // prefix hash (the crawl-pipeline canonicalization: near-exact dup
  // families share head content), which on this corpus drops real
  // cross-batch dups AND collapses within-batch groups.
  val d11: Q = q("d11_incremental_dedup",
    """WITH h AS (SELECT doc_id, md5(substr(text, 1, 64)) AS content_hash,
      |            substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) >= 'c' AS is_new
      |           FROM documents),
      |ex AS (SELECT DISTINCT content_hash FROM h WHERE NOT is_new)
      |SELECT MIN(doc_id) AS doc_id, content_hash, COUNT(*) AS n_copies
      |FROM h WHERE is_new AND content_hash NOT IN (SELECT content_hash FROM ex)
      |GROUP BY content_hash ORDER BY doc_id""") { c =>
    val bucket = substring(md5(col("doc_id").cast("string").cast("binary")), 1, 1)
    Dedup.incremental(
        c.documents.filter(bucket >= "c"),
        c.documents.filter(bucket < "c"),
        digest = md5(substring(col("text"), 1, 64).cast("binary")))
      .orderBy("doc_id")
  }

  // d07 — chunk-level dedup (the line-level dedup of C4/RefinedWeb-
  // style curation, over a corpus whose docs are unpunctuated token
  // streams): each doc splits into non-overlapping 8-token chunks;
  // a chunk occurrence survives only if it is the corpus-wide FIRST
  // (min (doc_id, pos), encoded as one long so the keep-first rule is
  // a plain min aggregation — one shuffle on the chunk text); docs
  // reassemble from their surviving chunks in position order. Docs
  // whose every chunk is a duplicate stay in the output with empty
  // clean_text (left join), so the row count is the doc count.
  // d08 — URL-canonicalization dedup (the very first pass of a web
  // curation run: the same page arrives under scheme/case/tracking/
  // trailing-slash variants). The corpus has no URL column, so each
  // doc gets a deterministic doc_id-derived URL with planted variants
  // (upper-cased WWW host, utm query string, trailing slash) — both
  // engines compute the identical injection, then the identical
  // normalization, so the canonicalization logic itself is hash-gated.
  // One hash aggregation on the canonical key (min doc_id = keep
  // first, count = cluster size); shuffles only on the URL key.
  /** The deterministic doc_id-derived URL injection + canonical key,
    * shared by d08 (dedup on the key) and x35 (domain blocklist over
    * the key) — one source of truth in each engine so the two stages
    * can never disagree about what a page's canonical URL is.
    */
  private[queries] val urlInjectSqlCtes =
    """u AS (SELECT doc_id,
      |  'https://WWW.Example' || CAST(doc_id % 7 AS VARCHAR) || '.COM/page/' ||
      |    CAST(doc_id % 50 AS VARCHAR) ||
      |    CASE WHEN doc_id % 3 = 0 THEN '?utm_source=feed' ELSE '' END ||
      |    CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END AS url
      |  FROM documents),
      |n AS (SELECT doc_id,
      |  regexp_replace(regexp_replace(regexp_replace(lower(url),
      |    '\?.*$', ''), '/$', ''), '://www\.', '://') AS url_key
      |  FROM u)"""

  private[queries] def urlInjectCol: Column = concat(
    lit("https://WWW.Example"), (col("doc_id") % 7).cast("string"),
    lit(".COM/page/"), (col("doc_id") % 50).cast("string"),
    when(col("doc_id") % 3 === 0, "?utm_source=feed").otherwise(""),
    when(col("doc_id") % 2 === 0, "/").otherwise(""))

  private[queries] def urlKeyCol: Column =
    regexp_replace(regexp_replace(regexp_replace(lower(urlInjectCol),
      "\\?.*$", ""), "/$", ""), "://www\\.", "://")

  val d08: Q = q("d08_url_dedup",
    s"""WITH $urlInjectSqlCtes
      |SELECT url_key, CAST(MIN(doc_id) AS BIGINT) AS kept_doc_id,
      |  COUNT(*) AS n_docs
      |FROM n GROUP BY url_key ORDER BY url_key""") { c =>
    c.documents.select(col("doc_id"), urlKeyCol.as("url_key"))
      .groupBy("url_key")
      .agg(min(col("doc_id")).as("kept_doc_id"), count(lit(1)).as("n_docs"))
      .orderBy("url_key")
  }

  /** The d07 chunk-dedup-and-rebuild chain, shared with p03's CCNet
    * pipeline: 8-token chunks, keep-first by (doc, pos) key, docs
    * rebuilt from their surviving chunks.
    * Returns (doc_id, n_chunks, n_kept, clean_text).
    */
  private[queries] def chunkCleaned(c: Catalog): DataFrame = {
    val docs = c.documents
      .select(col("doc_id"), split(lower(col("text")), " ").as("toks"))
    val segs = docs.select(col("doc_id"),
      posexplode(expr(
        """transform(sequence(0, cast(ceil(size(toks)/8.0) as int) - 1),
          |  i -> array_join(slice(toks, i*8+1, 8), ' '))""".stripMargin))
        .as(Seq("pos", "seg")))
    // frozen: keeper, the keep join, and the per-doc chunk counts all
    // consume the chunk frame — 3 corpus re-tokenizations pre-freeze
    // (Explain --execute audit)
    val keyed = segs
      .withColumn("k", col("doc_id") * lit(100000L) + col("pos"))
      .localCheckpoint(true)
    val keeper = keyed.groupBy("seg").agg(min("k").as("keep_k"))
    val kept = keyed.join(keeper, "seg").filter(col("k") === col("keep_k"))
    val rebuilt = kept.groupBy("doc_id").agg(
      count(lit(1)).as("n_kept"),
      array_join(transform(
        array_sort(collect_list(struct(col("pos"), col("seg")))),
        x => x("seg")), " ").as("clean_text"))
    keyed.groupBy("doc_id").agg(count(lit(1)).as("n_chunks"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chunks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  val d07: Q = q("d07_chunk_dedup",
    """WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
      |seg AS (SELECT doc_id, unnest(list_transform(range(0, CAST(ceil(len(t)/8.0) AS INT)),
      |          i -> {'pos': i, 'seg': array_to_string(t[i*8+1 : i*8+8], ' ')}), recursive := true)
      |        FROM toks),
      |keyed AS (SELECT doc_id, pos, seg, doc_id*100000 + pos AS k FROM seg),
      |keeper AS (SELECT seg, MIN(k) AS keep_k FROM keyed GROUP BY seg),
      |kept AS (SELECT doc_id, pos, keyed.seg FROM keyed
      |         JOIN keeper ON keyed.seg = keeper.seg AND keyed.k = keeper.keep_k),
      |rebuilt AS (SELECT doc_id, COUNT(*) AS n_kept,
      |              string_agg(seg, ' ' ORDER BY pos) AS clean_text
      |            FROM kept GROUP BY doc_id),
      |counts AS (SELECT doc_id, COUNT(*) AS n_chunks FROM keyed GROUP BY doc_id)
      |SELECT counts.doc_id, n_chunks, COALESCE(n_kept, 0) AS n_kept,
      |       COALESCE(clean_text, '') AS clean_text
      |FROM counts LEFT JOIN rebuilt ON counts.doc_id = rebuilt.doc_id
      |ORDER BY counts.doc_id""") { c =>
    chunkCleaned(c).orderBy("doc_id")
  }

  // d09 — SPAN-level duplicate detection (Lee et al. 2022 substring
  // dedup, relationally): pairs sharing a contiguous run of >= 12
  // tokens, via an inverted 8-token-window index + the
  // pos - row_number() run-grouping trick (operators/Dedup.spanPairs).
  // maxDf = 1000 >> the corpus max window DF, so the oracle output is
  // the uncapped exact result while the REGISTERED plan carries the
  // hot-window DF cap that bounds the self-join at corpus scale (the
  // d04 stop-shingle contract).
  val d09: Q = q("d09_span_dedup",
    """WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
      |p AS (SELECT doc_id, unnest(range(1, len(t) - 6)) AS pos, t
      |      FROM toks WHERE len(t) >= 8),
      |w AS (SELECT doc_id, pos, array_to_string(t[pos:pos+7], ' ') AS win FROM p),
      |dw AS (SELECT DISTINCT doc_id, win FROM w),
      |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.win
      |          FROM dw a JOIN dw b ON a.win = b.win AND a.doc_id < b.doc_id),
      |pa AS (SELECT DISTINCT id_a, id_b, wa.pos AS pos_a, wb.pos AS pos_b
      |       FROM pairs JOIN w wa ON wa.doc_id = pairs.id_a AND wa.win = pairs.win
      |                  JOIN w wb ON wb.doc_id = pairs.id_b AND wb.win = pairs.win),
      |runs AS (SELECT id_a, id_b, pos_a - ROW_NUMBER() OVER (
      |           PARTITION BY id_a, id_b, pos_a - pos_b ORDER BY pos_a) AS grp,
      |           pos_a - pos_b AS diag
      |         FROM pa),
      |rl AS (SELECT id_a, id_b, diag, grp, COUNT(*) AS runlen FROM runs GROUP BY 1, 2, 3, 4),
      |sp AS (SELECT id_a, id_b, CAST(MAX(runlen) + 7 AS BIGINT) AS longest_span
      |       FROM rl GROUP BY 1, 2),
      |sh AS (SELECT id_a, id_b, CAST(COUNT(DISTINCT pos_a) AS BIGINT) AS n_shared_windows
      |       FROM pa GROUP BY 1, 2)
      |SELECT sh.id_a, sh.id_b, n_shared_windows, longest_span
      |FROM sh JOIN sp USING (id_a, id_b) WHERE longest_span >= 12
      |ORDER BY id_a, id_b""") { c =>
    Dedup.spanPairs(c.documents, w = 8, minSpan = 12, maxDf = 1000L,
      maxRep = 100L)
      .orderBy("id_a", "id_b")
  }

  // d14 — EXACT-SUBSTRING SCRUB (Lee et al. 2022, "Deduplicating
  // Training Data Makes Language Models Better": remove the
  // duplicated SPANS, keep the rest of the document — the
  // complement of d09, which only REPORTS shared spans, and of
  // d01/d02, which drop whole documents). Semantics: any 8-token
  // window that also occurs in an earlier document (cross-doc,
  // keep-first at doc granularity) marks its 8 positions covered;
  // the cleaned text is the uncovered tokens in order. The key scale
  // property: UNlike pairwise span reporting, coverage only needs
  // each window's MIN doc_id and membership — one hash agg on the
  // window digest + one join back, LINEAR in total windows with NO
  // candidate-pair explosion (hot boilerplate windows cost one agg
  // row no matter how many thousands of docs share them — the case
  // that forces DF caps in d09/d12 is free here). Shuffles: window
  // digest agg, digest join-back, covered-position distinct,
  // (doc,pos) anti-join, per-doc regroup — all key-partitioned,
  // nothing quadratic. Gate: per-doc md5 of the reconstructed
  // cleaned text must match DuckDB's independent reconstruction.
  private val d14Oracle =
    """WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
      |p AS (SELECT doc_id, unnest(range(1, len(t) - 6)) AS pos, t FROM toks WHERE len(t) >= 8),
      |w AS (SELECT doc_id, pos, md5(array_to_string(t[pos:pos+7], ' ')) AS win FROM p),
      |fw AS (SELECT win, MIN(doc_id) AS first_doc FROM w GROUP BY win),
      |dup AS (SELECT w.doc_id, w.pos FROM w JOIN fw ON w.win = fw.win AND w.doc_id > fw.first_doc),
      |cov AS (SELECT DISTINCT doc_id, i FROM
      |  (SELECT doc_id, pos + unnest(range(0, 8)) AS i FROM dup)),
      |tk AS (SELECT doc_id, unnest(range(1, len(t) + 1)) AS i, t FROM toks),
      |tok AS (SELECT doc_id, i, t[i] AS tok FROM tk),
      |kept AS (SELECT tok.doc_id, tok.i, tok.tok
      |         FROM tok LEFT JOIN cov ON tok.doc_id = cov.doc_id AND tok.i = cov.i
      |         WHERE cov.i IS NULL),
      |cl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
      |         md5(string_agg(tok, ' ' ORDER BY i)) AS clean_hash
      |       FROM kept GROUP BY doc_id)
      |SELECT toks.doc_id, CAST(len(toks.t) AS BIGINT) AS n_tokens,
      |  CAST(len(toks.t) - COALESCE(cl.n_kept, 0) AS BIGINT) AS n_removed,
      |  COALESCE(cl.clean_hash, md5('')) AS clean_hash
      |FROM toks LEFT JOIN cl ON toks.doc_id = cl.doc_id
      |ORDER BY toks.doc_id"""

  val d14: Q = q("d14_exact_substr_scrub", d14Oracle) { c =>
    Dedup.exactSubstrScrub(c.documents, w = 8).orderBy("doc_id")
  }

  // d14_fast — the PRODUCTION DIAL of d14 (plans/HashExpressions.scala
  // WindowHashes): window keys are codegen'd 64-bit rolling hashes
  // instead of md5 strings — 8-byte shuffle keys vs 32-char strings on
  // the windows stream, the dominant shuffle of the operator (measured
  // 1.89 -> 1.21 s at sf0.1). The OUTPUT CONTRACT is identical — keys
  // only gate which windows collide, and a 64-bit collision over the
  // window population is ~n²/2^64 — so the entry hash-gates against
  // d14's own oracle verbatim: any behavioral drift between the dial
  // and the reference form is a wrong answer, not a slow one.
  val d14fast: Q = q("d14_exact_substr_scrub_fast", d14Oracle) { c =>
    Dedup.exactSubstrScrubFast(c.documents, w = 8).orderBy("doc_id")
  }

  // d17 — SORTED-NEIGHBORHOOD dedup (merge/purge): the third
  // candidate-generation family on the board after hashing (d01),
  // LSH banding (d02/d03), and inverted indexes (d04/d09/d12). Sort
  // by a normalized key prefix, compare each doc only to its w−1
  // successors: candidate volume n·(w−1) BY CONSTRUCTION — no recall
  // dial, no collision distribution to reason about — the right tool
  // when near-dups share long normalized prefixes (crawl re-fetches,
  // boilerplate-prefixed mirrors). Scale shape: NO global window —
  // global positions come from per-bucket ranks + a broadcast
  // carry-in of preceding-bucket counts (x16's two-phase prefix-sum
  // discipline; the bucket frame is alphabet-bounded), and neighbor
  // pairing is one equi-join on position after exploding the w−1
  // deltas. Exact word-set Jaccard verifies candidates only.
  private val d17Oracle =
    """WITH k AS (SELECT doc_id,
      |    substr(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'), 1, 24) AS key
      |  FROM documents),
      |ord AS (SELECT doc_id, row_number() OVER (ORDER BY key, doc_id) AS pos FROM k),
      |cand AS (SELECT LEAST(a.doc_id, b.doc_id) AS id_a,
      |    GREATEST(a.doc_id, b.doc_id) AS id_b
      |  FROM ord a JOIN ord b ON b.pos > a.pos AND b.pos <= a.pos + 2),
      |t AS (SELECT doc_id, unnest(list_distinct(string_split(lower(text), ' '))) AS tok
      |      FROM documents),
      |sizes AS (SELECT doc_id, COUNT(*) AS n FROM t WHERE tok <> '' GROUP BY 1),
      |inter AS (SELECT c.id_a, c.id_b, COUNT(*) AS i
      |  FROM cand c JOIN t x ON x.doc_id = c.id_a AND x.tok <> ''
      |              JOIN t y ON y.doc_id = c.id_b AND y.tok = x.tok
      |  GROUP BY 1, 2)
      |SELECT i.id_a, i.id_b,
      |  ROUND(CAST(i.i AS DOUBLE) / (sa.n + sb.n - i.i), 6) AS jaccard
      |FROM inter i JOIN sizes sa ON i.id_a = sa.doc_id
      |             JOIN sizes sb ON i.id_b = sb.doc_id
      |WHERE CAST(i.i AS DOUBLE) / (sa.n + sb.n - i.i) >= 0.5
      |ORDER BY id_a, id_b"""

  val d17: Q = q("d17_sorted_neighborhood", d17Oracle) { c =>
    Dedup.sortedNeighborhoodPairs(c.documents, window = 3, keyLen = 24,
        threshold = 0.5)
      .orderBy("id_a", "id_b")
  }

  // d17_auto — the occupancy-held dial: bucketLen ∝ log36(n/5000), so
  // the per-bucket rank window (the plan's only sort) holds ~5k rows
  // at ANY corpus size instead of growing linearly inside 37 fixed
  // buckets. Output is bucketing-invariant by construction (bucket =
  // key prefix ⇒ per-bucket rank + carry-in IS the global position),
  // so the entry hash-gates against d17's OWN oracle — dial drift is
  // a wrong answer. Probed at 10× and at 100× (500k docs, where the
  // dial picks bucketLen 2 and the fixed form's buckets would hold
  // ~14k rows each).
  val d17auto: Q = q("d17_sorted_neighborhood_auto", d17Oracle) { c =>
    Dedup.sortedNeighborhoodPairsAuto(c.documents, window = 3, keyLen = 24,
        threshold = 0.5)
      .orderBy("id_a", "id_b")
  }

  // d19 — THRESHOLD-DRIVEN BAND PLANNING (Dedup.bandPlan, the default
  // dial of Dedup.minhashPairs — the auto dial of the MinHash family,
  // d03auto's discipline applied to the band/row split): the 0.25
  // verify threshold plans 16 bands × 2 rows, whose S-curve midpoint
  // (1/16)^(1/2) is EXACTLY 0.25 — the candidate budget lands where
  // the threshold is, where d02's fixed 8×4 dial (midpoint 0.594)
  // would silently lose low-similarity recall. Banding refinement is
  // structural (a shared 4-row band implies both 2-row halves
  // match), so the planned run's pairs are a guaranteed superset of
  // d02's — spec-pinned along with the planner's midpoint table and
  // bands-monotone-in-threshold. ORACLE-GATED with the 16×2 band SQL
  // generated from the same family constants.
  private val d19BandSelects = {
    val (bands, rows) = Dedup.bandPlan(32, 0.25)
    (0 until bands).map { b =>
      val ms = (b * rows until (b + 1) * rows).map(j => s"mh$j")
        .mkString(" || '|' || ")
      s"SELECT doc_id, $b AS band, md5($ms) AS bucket FROM sig"
    }.mkString(" UNION ALL ")
  }
  val d19: Q = q("d19_minhash_auto",
    s"""WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
      |shs AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t)-1),
      |         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS s
      |       FROM toks WHERE len(t) >= 3),
      |sh AS (SELECT DISTINCT doc_id,
      |         CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) AS shingle FROM shs),
      |hv AS (SELECT doc_id, shingle % 2147483647 AS h31 FROM sh),
      |sig AS (SELECT doc_id, $d02SigAggs FROM hv GROUP BY doc_id),
      |bk AS ($d19BandSelects),
      |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |         FROM bk a JOIN bk b ON a.band = b.band AND a.bucket = b.bucket
      |          AND a.doc_id < b.doc_id),
      |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      |inter AS (SELECT c.id_a, c.id_b, COUNT(*) AS i
      |          FROM cand c
      |          JOIN sh a ON a.doc_id = c.id_a
      |          JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
      |          GROUP BY 1, 2)
      |SELECT id_a, id_b, ROUND(CAST(i AS DOUBLE)/(sa.n + sb.n - i), 6) AS jaccard
      |FROM inter JOIN sizes sa ON id_a = sa.doc_id JOIN sizes sb ON id_b = sb.doc_id
      |WHERE CAST(i AS DOUBLE)/(sa.n + sb.n - i) >= 0.25
      |ORDER BY id_a, id_b""") { c =>
    Dedup.minhashPairs(c.documents, n = 3, threshold = 0.25)
      .orderBy("id_a", "id_b")
  }

  // d18 — INCREMENTAL MinHash-LSH index maintenance
  // (Dedup.incrementalLshPairs): the arriving batch (doc_id % 5 = 0)
  // deduplicates against a PERSISTED (band, bucket) index of the
  // pre-existing corpus — the near-dup sibling of d11's exact Bloom
  // ingest. The increment hashes only the batch, probes the on-disk
  // index with one equi-join (new×old) plus the batch self-join
  // (new×new), exact-verifies with shingles of the batch and ONLY the
  // matched old partners (left-semi point reads, pinned in
  // LlmOpsSpec), then appends the batch's bands — O(batch + matches)
  // per increment at ANY corpus size, where re-running d02 per batch
  // is O(corpus) every time. Same portable family as d02, so the
  // verified pairs are EXACTLY d02's restricted to ≥1 new member
  // (also spec-pinned), and the oracle restates that restriction
  // declaratively + the post-append index census row.
  val d18: Q = q("d18_incremental_lsh",
    s"""WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
      |shs AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t)-1),
      |         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS s
      |       FROM toks WHERE len(t) >= 3),
      |sh AS (SELECT DISTINCT doc_id,
      |         CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) AS shingle FROM shs),
      |hv AS (SELECT doc_id, shingle % 2147483647 AS h31 FROM sh),
      |sig AS (SELECT doc_id, $d02SigAggs FROM hv GROUP BY doc_id),
      |bk AS ($d02BandSelects),
      |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |         FROM bk a JOIN bk b ON a.band = b.band AND a.bucket = b.bucket
      |          AND a.doc_id < b.doc_id
      |         WHERE a.doc_id % 5 = 0 OR b.doc_id % 5 = 0),
      |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      |inter AS (SELECT c.id_a, c.id_b, COUNT(*) AS i
      |          FROM cand c
      |          JOIN sh a ON a.doc_id = c.id_a
      |          JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
      |          GROUP BY 1, 2)
      |SELECT id_a, id_b, ROUND(CAST(i AS DOUBLE)/(sa.n + sb.n - i), 6) AS jaccard,
      |  CASE WHEN id_a % 5 = 0 AND id_b % 5 = 0 THEN 'new_vs_new'
      |       ELSE 'new_vs_old' END AS provenance
      |FROM inter JOIN sizes sa ON id_a = sa.doc_id JOIN sizes sb ON id_b = sb.doc_id
      |WHERE CAST(i AS DOUBLE)/(sa.n + sb.n - i) >= 0.5
      |UNION ALL
      |SELECT -1, -1, CAST(NULL AS DOUBLE),
      |  'index_docs:' || CAST((SELECT COUNT(DISTINCT doc_id) FROM sh) AS VARCHAR)
      |ORDER BY id_a, id_b""") { c =>
    Dedup.incrementalLshPairs(c.documents, col("doc_id") % 5 === 0,
        graft.core.Scratch.dir("d18_idx").toString + "/index",
        n = 3, threshold = 0.5)
      .orderBy("id_a", "id_b")
  }

  // ---------------------------------------------------------------
  // d20 — SUFFIX-ARRAY exact-substring scrub at Lee et al.'s actual
  // span length (≥50 tokens) via distributed prefix doubling
  // (Dedup.suffixSpanScrub): window equality decided by EQUALITY
  // CLASSES from the Manber-Myers doubling recurrence — two positions
  // share the composed (r32, r16(+32), r2(+48)) key iff their
  // 50-token sequences are IDENTICAL, no hash anywhere in the
  // decision path (d14's rolling digests admit ~n²/2⁶⁴ false
  // coverage; this is the collision-free form). Corpus docs run
  // 10–99 tokens, so the ≥50-token regime is exercised with PLANTED
  // long-span fixtures both engines inject identically: each doc
  // under id 30 with ≥55 tokens spawns a copy (+1,000,000 id) whose
  // first 55 tokens repeat verbatim before a fresh tail — the copy's
  // span scrubs (keep-first), the original and the tail survive.
  // The ORACLE certifies the same semantics through the d14 window
  // formulation at W=50 (coverage by duplicated 50-windows ≡ coverage
  // by ≥50-token duplicated spans — the documented equivalence; md5
  // window keys are exact at oracle scale). Scale shape: log₂(50)
  // doubling levels, each one (doc,pos) equi-join + one class-window
  // min — linearithmic shuffle volume, metered in the bench ring.
  private val d20Oracle =
    """WITH aug AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000,
      |    array_to_string(string_split(lower(text), ' ')[1:55], ' ')
      |      || ' fresh' || CAST(doc_id AS VARCHAR)
      |      || ' unique' || CAST(doc_id AS VARCHAR)
      |      || ' tail' || CAST(doc_id AS VARCHAR)
      |  FROM documents WHERE doc_id < 30 AND len(string_split(text, ' ')) >= 55),
      |toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM aug),
      |p AS (SELECT doc_id, unnest(range(1, len(t) - 48)) AS pos, t FROM toks WHERE len(t) >= 50),
      |w AS (SELECT doc_id, pos, md5(array_to_string(t[pos:pos+49], ' ')) AS win FROM p),
      |fw AS (SELECT win, MIN(doc_id) AS first_doc FROM w GROUP BY win),
      |dup AS (SELECT w.doc_id, w.pos FROM w JOIN fw ON w.win = fw.win AND w.doc_id > fw.first_doc),
      |cov AS (SELECT DISTINCT doc_id, i FROM
      |  (SELECT doc_id, pos + unnest(range(0, 50)) AS i FROM dup)),
      |tk AS (SELECT doc_id, unnest(range(1, len(t) + 1)) AS i, t FROM toks),
      |tok AS (SELECT doc_id, i, t[i] AS tok FROM tk),
      |kept AS (SELECT tok.doc_id, tok.i, tok.tok
      |         FROM tok LEFT JOIN cov ON tok.doc_id = cov.doc_id AND tok.i = cov.i
      |         WHERE cov.i IS NULL),
      |cl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
      |         md5(string_agg(tok, ' ' ORDER BY i)) AS clean_hash
      |       FROM kept GROUP BY doc_id)
      |SELECT toks.doc_id, CAST(len(toks.t) AS BIGINT) AS n_tokens,
      |  CAST(len(toks.t) - COALESCE(cl.n_kept, 0) AS BIGINT) AS n_removed,
      |  COALESCE(cl.clean_hash, md5('')) AS clean_hash
      |FROM toks LEFT JOIN cl ON toks.doc_id = cl.doc_id
      |ORDER BY toks.doc_id"""

  val d20: Q = q("d20_suffix_span", d20Oracle) { c =>
    val planted = c.documents
      .filter(col("doc_id") < 30 &&
        size(split(lower(col("text")), " ")) >= 55)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(
          array_join(slice(split(lower(col("text")), " "), 1, 55), " "),
          lit(" fresh"), col("doc_id"),
          lit(" unique"), col("doc_id"),
          lit(" tail"), col("doc_id")).as("text"))
    Dedup.suffixSpanScrub(
        c.documents.select(col("doc_id"), col("text")).unionByName(planted),
        minSpan = 50)
      .orderBy("doc_id")
  }
}
