package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{IntegerType, LongType}

import graft.core.Scratch
import graft.sources.{Catalog, Cdx, Warc}

/** The crawl pipeline's FRONT DOOR — where a real 100 TB curation run
  * starts, before any of the D-family stages see a clean `text`
  * column: WARC/WET container ingestion (w01) and HTML boilerplate
  * extraction (x34). Both are oracle-gated end-to-end: the WET
  * fixture is generated deterministically FROM the documents table,
  * so DuckDB recomputes the expected records from the source rows
  * while Spark round-trips through the actual container bytes; the
  * HTML fixture is the same deterministic-injection recipe as d08's
  * URLs, so both engines build identical markup and the extraction
  * ALGORITHM itself is what hash-compares.
  */
object WebQueries extends QDsl {

  // ---------------------------------------------------------------
  // w01 — WARC/WET INGESTION (sources/Warc.scala — the container
  // format crawl corpora arrive in). The reader is ONE splittable
  // text scan with the record boundary as the line separator (the
  // textinputformat.record.delimiter trick through the DataFrame
  // text source — block-sized tasks at 100 TB, no whole-file reads),
  // headers parsed with codegen'd regexp_extract, payload cut by
  // Content-Length exactly as the spec defines the record block.
  // Fixture: a two-shard WET rendering of the documents table
  // (driver-side generation is fixture-only, the mm stubMedia
  // recipe); the oracle recomputes every expected record — including
  // the Content-Length the reader must round-trip — from documents.
  private val w01Fixture =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private[queries] def wetFixtureDir(c: Catalog): String =
    w01Fixture.computeIfAbsent(c.dir, { _ =>
      val d = Scratch.dir("w01_wet")
      val rows = c.documents.select("doc_id", "text")
        .orderBy("doc_id").toLocalIterator()
      // shard 0 plain, shard 1 GZIPPED — Common Crawl ships .warc.gz /
      // .warc.wet.gz, and the text source decompresses by extension,
      // so one read covers the mixed-shard reality. (A .gz member is
      // NOT splittable — one task per compressed shard; CC sizes its
      // members ~1 GB for exactly that reason, and a 100 TB crawl
      // parallelizes across its ~100k members, not within them.)
      val plain = java.nio.file.Files.newBufferedWriter(
        d.resolve("shard-0.warc"), java.nio.charset.StandardCharsets.UTF_8)
      val gz = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
        new java.util.zip.GZIPOutputStream(java.nio.file.Files.newOutputStream(
          d.resolve("shard-1.warc.gz"))),
        java.nio.charset.StandardCharsets.UTF_8))
      val writers = Seq(plain, gz)
      try {
        rows.forEachRemaining { r =>
          val id = r.getLong(0)
          val rec = Warc.record(
            s"https://crawl.example/doc/$id",
            f"2024-01-${id % 28 + 1}%02dT00:00:00Z",
            r.getString(1))
          writers((id % 2).toInt).write(rec)
        }
      } finally writers.foreach(_.close())
      d.toString
    })

  /** Pre-build the container fixtures for `dir` (WET always; CDX when
    * `cdx`) — the bench probe tail stages them OUTSIDE its timed
    * window (stageScaled's discipline): the fixtures render
    * driver-side, single-threaded, from the documents table, and
    * stand in for containers that already exist on disk in
    * production — timing their generation inside p06/p07's probe
    * measures scaffolding, not the operator (the same rationale that
    * keeps w01/w02/w03 out of the probe ring entirely).
    */
  def stageCrawlFixtures(spark: org.apache.spark.sql.SparkSession,
      dir: String, cdx: Boolean = true): Unit = {
    val c = Catalog(spark, dir)
    wetFixtureDir(c)
    if (cdx) { cdxFixtureDir(c); () }
    ()
  }

  val w01: Q = q("w01_warc_source",
    """SELECT 'https://crawl.example/doc/' || CAST(doc_id AS VARCHAR) AS url,
      |  'conversion' AS rec_type,
      |  '2024-01-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
      |    || 'T00:00:00Z' AS warc_date,
      |  CAST(strlen(text) AS BIGINT) AS content_length,
      |  md5(text) AS payload_md5
      |FROM documents ORDER BY url""") { c =>
    Warc.read(c.spark, wetFixtureDir(c))
      .select(col("url"), col("rec_type"), col("warc_date"),
        col("content_length"), md5(col("payload").cast("binary")).as("payload_md5"))
      .orderBy("url")
  }

  // ---------------------------------------------------------------
  // w02 — RAW-WARC INGESTION, LENGTH-WALKING (sources/Warc.readRaw).
  // w01's delimiter-split reader documents its known limit: a raw
  // fetch BODY embedding the literal record boundary splits early.
  // w02 is the hostile-body path — it hops record to record by
  // Content-Length (the payload is counted, never searched), so the
  // fixture DELIBERATELY plants a complete fake record (boundary +
  // headers + blank line) inside every doc_id%5=0 payload. Shards are
  // the parallel unit (raw WARC without an index is sequential BY
  // FORMAT — the reason CC ships WET/WAT and megawarc .idx next to
  // it); one plain + one gzipped shard cover the mixed reality. The
  // oracle recomputes every expected record — including the embedded-
  // boundary payload bytes the reader must round-trip — from the
  // documents table.
  private val w02Fixture =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** The adversarial payload: doc_id%5=0 payloads embed a complete
    * fake record; the oracle mirrors this construction in SQL.
    */
  private def rawPayload(id: Long, text: String): String =
    if (id % 5 == 0)
      text + "\r\nWARC/1.0\r\nWARC-Type: response\r\n" +
        s"Content-Length: 99\r\n\r\nfake body tail-$id"
    else text

  private[queries] def rawWarcFixtureDir(c: Catalog): String =
    w02Fixture.computeIfAbsent(c.dir, { _ =>
      val d = Scratch.dir("w02_warc")
      val rows = c.documents.select("doc_id", "text")
        .orderBy("doc_id").toLocalIterator()
      val plain = java.nio.file.Files.newBufferedWriter(
        d.resolve("shard-0.warc"), java.nio.charset.StandardCharsets.UTF_8)
      val gz = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
        new java.util.zip.GZIPOutputStream(java.nio.file.Files.newOutputStream(
          d.resolve("shard-1.warc.gz"))),
        java.nio.charset.StandardCharsets.UTF_8))
      val writers = Seq(plain, gz)
      try {
        rows.forEachRemaining { r =>
          val id = r.getLong(0)
          val rec = Warc.rawRecord(
            s"https://crawl.example/raw/$id",
            f"2024-01-${id % 28 + 1}%02dT00:00:00Z",
            rawPayload(id, r.getString(1)), "response")
          writers((id % 2).toInt).write(rec)
        }
      } finally writers.foreach(_.close())
      d.toString
    })

  val w02: Q = q("w02_warc_raw",
    """WITH pay AS (SELECT doc_id,
      |  CASE WHEN doc_id % 5 = 0 THEN text
      |      || chr(13) || chr(10) || 'WARC/1.0'
      |      || chr(13) || chr(10) || 'WARC-Type: response'
      |      || chr(13) || chr(10) || 'Content-Length: 99'
      |      || chr(13) || chr(10) || chr(13) || chr(10)
      |      || 'fake body tail-' || CAST(doc_id AS VARCHAR)
      |    ELSE text END AS payload
      |  FROM documents)
      |SELECT 'https://crawl.example/raw/' || CAST(doc_id AS VARCHAR) AS url,
      |  'response' AS rec_type,
      |  '2024-01-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
      |    || 'T00:00:00Z' AS warc_date,
      |  CAST(strlen(payload) AS BIGINT) AS content_length,
      |  md5(payload) AS payload_md5,
      |  contains(payload, 'WARC/1.0') AS has_embedded_boundary
      |FROM pay ORDER BY url""") { c =>
    Warc.readRaw(c.spark, rawWarcFixtureDir(c))
      .select(col("url"), col("rec_type"), col("warc_date"),
        col("content_length"),
        md5(col("payload").cast("binary")).as("payload_md5"),
        col("payload").contains("WARC/1.0").as("has_embedded_boundary"))
      .orderBy("url")
  }

  // ---------------------------------------------------------------
  // w03 — CDX CAPTURE-INDEX SELECT (sources/Cdx.scala — the index
  // format crawl archives ship NEXT TO the WARC containers, and the
  // stage real pipelines run BEFORE touching container bytes: a
  // 100 TB crawl is selected from its ~1%-sized index — status-200
  // text/html captures, deduped to the LATEST capture per content
  // digest across re-crawls — and only the surviving rows' (filename,
  // offset, length) triples drive WARC range-reads). The dedup is one
  // map-side-combinable max-struct aggregate keyed on digest (ts is
  // the struct's leading field, so "latest capture" is the natural
  // struct max — no window, no per-digest buffering). Fixture: two
  // CDX shards (one plain — splittable, one GZIPPED — the cdx-*.gz
  // form CC ships) rendered deterministically FROM documents, with
  // doc_id%3=0 docs re-crawled a year later (the dedup's work),
  // doc_id%7=0 as 404s and doc_id%4=0 as PDFs (the filters' work);
  // the oracle recomputes every surviving capture from the source
  // rows while Spark round-trips the actual index bytes.
  private val w03Fixture =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private[queries] def cdxFixtureDir(c: Catalog): String =
    w03Fixture.computeIfAbsent(c.dir, { _ =>
      val d = Scratch.dir("w03_cdx")
      val rows = c.documents.select("doc_id", "text")
        .orderBy("doc_id").toLocalIterator()
      val plain = java.nio.file.Files.newBufferedWriter(
        d.resolve("cdx-00000"), java.nio.charset.StandardCharsets.UTF_8)
      val gz = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
        new java.util.zip.GZIPOutputStream(java.nio.file.Files.newOutputStream(
          d.resolve("cdx-00001.gz"))),
        java.nio.charset.StandardCharsets.UTF_8))
      try {
        rows.forEachRemaining { r =>
          val id = r.getLong(0)
          val text = r.getString(1)
          val digest = graft.core.Checksum.md5(text)
          val len = text.getBytes(java.nio.charset.StandardCharsets.UTF_8).length
          val mime = if (id % 4 == 0) "application/pdf" else "text/html"
          val status = if (id % 7 == 0) "404" else "200"
          def line(ts: Long, off: Long, fn: String): String =
            s"""example,crawl)/doc/$id $ts {"url": "https://crawl.example/doc/$id", """ +
              s""""mime": "$mime", "status": "$status", "digest": "$digest", """ +
              s""""length": "$len", "offset": "$off", "filename": "$fn"}""" + "\n"
          plain.write(line(20240101000000L + id, id * 1000, "crawl/shard-0.warc.gz"))
          if (id % 3 == 0)
            gz.write(line(20250101000000L + id, id * 1000 + 500, "crawl/shard-1.warc.gz"))
        }
      } finally { plain.close(); gz.close() }
      d.toString
    })

  // ---------------------------------------------------------------
  // w04 — WAT LINK EXTRACTION (the third member of the container
  // triad CC actually ships: raw fetches in WARC (w02), extracted
  // text in WET (w01), per-page METADATA in WAT — JSON envelopes
  // carrying each page's HTML link structure). The host-level link
  // graph is what WAT exists for (CC's own host/domain-rank datasets
  // are built from exactly this pass), and that graph is the input
  // x27's pagerank ranks — so this entry IS that front end: container
  // bytes → JSON envelope → anchor links → (src_host, dst_host,
  // n_links), with the fixture's links derived so the aggregated
  // anchor-edge universe is EXACTLY x27's host graph (same modulus,
  // same two affine jumps — TextQueries.x27Hosts/x27Jump1/x27Jump2
  // are shared constants, the two entries cannot drift). Planted
  // IMG@/src rows on every even doc prove the anchor-path predicate
  // bites. Scale shape: one splittable container scan (plain shard
  // splits block-wise, gzipped shard one task per member) →
  // codegen'd from_json against an EXPLICIT nested schema →
  // explode(Links) → path predicate → ONE map-side-combinable
  // host-pair count; nothing after the explode is wider than the
  // host² grid.
  private val w04Fixture =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def watHost(h: Long): String = s"host$h.example"

  private[queries] def watFixtureDir(c: Catalog): String =
    w04Fixture.computeIfAbsent(c.dir, { _ =>
      val hN = TextQueries.x27Hosts
      val (a1, b1) = TextQueries.x27Jump1
      val (a2, b2) = TextQueries.x27Jump2
      val d = Scratch.dir("w04_wat")
      val rows = c.documents.select("doc_id")
        .orderBy("doc_id").toLocalIterator()
      val plain = java.nio.file.Files.newBufferedWriter(
        d.resolve("shard-0.warc"), java.nio.charset.StandardCharsets.UTF_8)
      val gz = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
        new java.util.zip.GZIPOutputStream(java.nio.file.Files.newOutputStream(
          d.resolve("shard-1.warc.gz"))),
        java.nio.charset.StandardCharsets.UTF_8))
      val writers = Seq(plain, gz)
      try {
        rows.forEachRemaining { r =>
          val id = r.getLong(0)
          def link(path: String, host: Long, p: String): String =
            s"""{"path": "$path", "url": "https://${watHost(host)}/$p"}"""
          val links = Seq(
            link("A@/href", (id * a1 + b1) % hN, s"lnk/a$id"),
            link("A@/href", (id * a2 + b2) % hN, s"lnk/b$id")) ++
            (if (id % 2 == 0)
              Seq(link("IMG@/src", (id * 11 + 3) % hN, s"img/$id.png"))
            else Nil)
          val payload =
            s"""{"Envelope": {"Payload-Metadata": {"HTTP-Response-Metadata": """ +
              s"""{"HTML-Metadata": {"Links": [${links.mkString(", ")}]}}}}}"""
          val rec = Warc.rawRecord(
            s"https://${watHost(id % hN)}/doc/$id",
            f"2024-01-${id % 28 + 1}%02dT00:00:00Z", payload, "metadata")
          writers((id % 2).toInt).write(rec)
        }
      } finally writers.foreach(_.close())
      d.toString
    })

  /** The WAT envelope's explicit nested schema (the sources.yml
    * no-inference discipline) down to the HTML link list.
    */
  private val watSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    val link = StructType(Seq(
      StructField("path", StringType), StructField("url", StringType)))
    val htmlMeta = StructType(Seq(
      StructField("Links", ArrayType(link))))
    val httpMeta = StructType(Seq(
      StructField("HTML-Metadata", htmlMeta)))
    val payloadMeta = StructType(Seq(
      StructField("HTTP-Response-Metadata", httpMeta)))
    val envelope = StructType(Seq(
      StructField("Payload-Metadata", payloadMeta)))
    StructType(Seq(StructField("Envelope", envelope)))
  }

  /** w04's pre-sort host-pair aggregate — ONE source of truth for the
    * registered w04 entry and p08's edge derivation. w04's trailing
    * orderBy exists only for oracle determinism; a downstream consumer
    * (p08) re-shuffles immediately, so it reads THIS aggregate and the
    * global sort never enters the composed plan (dead work at corpus
    * scale — an Exchange rangepartitioning + Sort whose order the next
    * exchange discards).
    */
  private[queries] def watLinkCounts(c: Catalog): DataFrame = {
    val env = from_json(col("payload"), watSchema)
    Warc.read(c.spark, watFixtureDir(c))
      .filter(col("rec_type") === "metadata")
      .select(
        regexp_extract(col("url"), "https://([^/]+)/", 1).as("src_host"),
        explode(env.getField("Envelope").getField("Payload-Metadata")
          .getField("HTTP-Response-Metadata").getField("HTML-Metadata")
          .getField("Links")).as("l"))
      .filter(col("l.path") === "A@/href") // anchors only — IMG planted
      .select(col("src_host"),
        regexp_extract(col("l.url"), "https://([^/]+)/", 1).as("dst_host"))
      .groupBy("src_host", "dst_host")
      .agg(count(lit(1)).as("n_links"))
  }

  val w04: Q = {
    val hN = TextQueries.x27Hosts
    val (a1, b1) = TextQueries.x27Jump1
    val (a2, b2) = TextQueries.x27Jump2
    q("w04_wat_links",
      s"""WITH l AS (
        |  SELECT 'host' || CAST(doc_id % $hN AS VARCHAR) || '.example' AS src_host,
        |    'host' || CAST((doc_id * $a1 + $b1) % $hN AS VARCHAR) || '.example' AS dst_host
        |  FROM documents
        |  UNION ALL
        |  SELECT 'host' || CAST(doc_id % $hN AS VARCHAR) || '.example',
        |    'host' || CAST((doc_id * $a2 + $b2) % $hN AS VARCHAR) || '.example'
        |  FROM documents)
        |SELECT src_host, dst_host, CAST(COUNT(*) AS BIGINT) AS n_links
        |FROM l GROUP BY 1, 2 ORDER BY 1, 2""") { c =>
      watLinkCounts(c).orderBy("src_host", "dst_host")
    }
  }

  /** Size-gated broadcast hint for HOST-scaled frames (w05's rule
    * table, p08's rank table): hosts grow with the corpus — O(10⁷-10⁸)
    * at CC scale — so an unconditional `broadcast()` eventually walks
    * into Spark's 8 GB / 512M-row relation cap and a driver OOM. The
    * gate reads the frame's ALREADY-MATERIALIZED checkpoint block
    * bytes from the storage registry — zero extra Spark jobs, where
    * the r18 row-count gate's `count()` was a whole second action
    * over the frozen frame (most of w05's measured 1× regression) —
    * and bytes are the quantity the broadcast caps are actually
    * about. The hint is applied only below
    * `spark.graft.broadcast.maxBytes` (default 64 MB of deserialized
    * block bytes — well under the 8 GB relation cap, and what the old
    * 2²⁰-row gate came to on these narrow host-keyed schemas); above
    * it the hint is withheld and the planner shuffles both sides.
    * The gate fails closed: a frame with no registered checkpoint
    * blocks has an unknown size and gets no hint.
    */
  private[graft] def maybeBroadcastCheckpointed(df: DataFrame): DataFrame = {
    val cap = df.sparkSession.conf.getOption("spark.graft.broadcast.maxBytes")
      .map(_.toLong).getOrElse(64L << 20)
    org.apache.spark.sql.graftbridge.RddBridge.checkpointBytes(df) match {
      case Some(bytes) if bytes <= cap => broadcast(df)
      case _ => df
    }
  }

  // ---------------------------------------------------------------
  // w05 — ROBOTS.TXT FILTER (RFC 9309, the Robots Exclusion
  // Protocol — the politeness/consent gate every crawl-derived
  // corpus is expected to honor, and post-hoc re-filtering against
  // CURRENT robots rules is standard curation practice). The robots
  // bodies arrive the way CC actually ships them: as WARC response
  // records (one robots.txt fetch per host), so the parse starts
  // from container bytes through the SAME w01 reader. Semantics
  // implemented: RFC group structure — stacked User-agent lines form
  // ONE group, rules apply to * iff any stacked UA line is * (the
  // fixture stacks `User-agent: otherbot / User-agent: *` on h%7=0
  // hosts), field names match case-insensitively per §2.1 (h%3=1
  // hosts write lowercase directives) while rule VALUES keep case,
  // and a hostile `User-agent: badbot / Disallow: /` group must be
  // IGNORED (wrong scoping blocks the entire corpus and fails the
  // oracle); longest-prefix-match rule selection with Allow winning
  // length ties (RFC 9309 §2.2.2 — the fixture's /doc/pub/ Allow
  // under a /doc/ Disallow exercises the override), no-match =
  // allowed, empty rule lines dropped (every file plants an empty
  // `Disallow:`, which matches nothing per spec — a parser turning
  // it into a zero-length match-all prefix flips every verdict and
  // fails the oracle). Scale shape: the rule table is HOST-bounded
  // (config-sized at any corpus — robots bodies are KB per host) so
  // the candidate side takes it as ONE BROADCAST join; the
  // longest-match decision is a map-side-combinable max-struct
  // aggregate keyed on the url (len, allow-flag, prefix — the same
  // total order the oracle ranks by), never a corpus window.
  private val w05Fixture =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private[queries] def robotsFixtureDir(c: Catalog): String =
    w05Fixture.computeIfAbsent(c.dir, { _ =>
      val hN = TextQueries.x27Hosts
      val d = Scratch.dir("w05_robots")
      val out = java.nio.file.Files.newBufferedWriter(
        d.resolve("robots.warc"), java.nio.charset.StandardCharsets.UTF_8)
      try {
        (0L until hN.toLong).foreach { h =>
          // the * group's RULE SET is a pure function of the host
          // number (what the oracle recomputes); its PRESENTATION
          // varies to exercise the parser's RFC obligations — h%3==1
          // hosts write lowercase field names (field names are
          // case-insensitive per RFC 9309 §2.1; values keep case),
          // h%7==0 hosts STACK a second User-agent line onto the
          // group (stacked UA lines form ONE group — a parser that
          // scopes rules to only the most recent UA line drops the
          // * rules here and fails the oracle). Every file also
          // plants an EMPTY `Disallow:` line, which matches nothing
          // per spec — a parser that turns it into a zero-length
          // match-all prefix flips every verdict.
          val baseRules = Seq("Disallow: /private/", "Disallow:") ++
            (if (h % 5 == 0) Seq("Disallow: /doc/", "Allow: /doc/pub/") else Nil)
          val starGroup =
            if (h % 3 == 1)
              ("user-agent: *" +: baseRules.map(r =>
                r.replaceFirst("^Disallow", "disallow")
                  .replaceFirst("^Allow", "allow"))).mkString("\n")
            else if (h % 7 == 0)
              (Seq("User-agent: otherbot", "User-agent: *") ++ baseRules)
                .mkString("\n")
            else ("User-agent: *" +: baseRules).mkString("\n")
          val body = "User-agent: badbot\nDisallow: /\n\n" + starGroup + "\n"
          out.write(Warc.rawRecord(s"https://${watHost(h)}/robots.txt",
            "2024-02-01T00:00:00Z", body, "response"))
        }
      } finally out.close()
      d.toString
    })

  val w05: Q = {
    val hN = TextQueries.x27Hosts
    q("w05_robots_filter",
      s"""WITH cand AS (SELECT doc_id,
        |    'host' || CAST(doc_id % $hN AS VARCHAR) || '.example' AS host,
        |    CASE WHEN doc_id % 4 = 0 THEN '/private/' || CAST(doc_id AS VARCHAR)
        |         WHEN doc_id % 6 = 0 THEN '/doc/pub/' || CAST(doc_id AS VARCHAR)
        |         ELSE '/doc/' || CAST(doc_id AS VARCHAR) END AS path
        |  FROM documents),
        |rules AS (
        |  SELECT 'host' || CAST(h AS VARCHAR) || '.example' AS host,
        |    'disallow' AS rtype, '/private/' AS prefix FROM range($hN) t(h)
        |  UNION ALL
        |  SELECT 'host' || CAST(h AS VARCHAR) || '.example', 'disallow', '/doc/'
        |  FROM range($hN) t(h) WHERE h % 5 = 0
        |  UNION ALL
        |  SELECT 'host' || CAST(h AS VARCHAR) || '.example', 'allow', '/doc/pub/'
        |  FROM range($hN) t(h) WHERE h % 5 = 0),
        |m AS (SELECT c.doc_id, r.rtype, r.prefix,
        |    row_number() OVER (PARTITION BY c.doc_id
        |      ORDER BY strlen(r.prefix) DESC, (r.rtype = 'allow') DESC,
        |        r.prefix DESC) AS rn
        |  FROM cand c JOIN rules r
        |    ON c.host = r.host AND starts_with(c.path, r.prefix)),
        |best AS (SELECT doc_id, rtype, prefix FROM m WHERE rn = 1)
        |SELECT 'https://' || c.host || c.path AS url, c.host,
        |  COALESCE(b.rtype <> 'disallow', TRUE) AS allowed,
        |  b.rtype || ' ' || b.prefix AS matched_rule,
        |  CAST(strlen(b.prefix) AS BIGINT) AS matched_len
        |FROM cand c LEFT JOIN best b ON c.doc_id = b.doc_id
        |ORDER BY url""") { c =>
      // parse the robots container with RFC 9309's group structure:
      // one-or-more STACKED User-agent lines open a group and every
      // following rule line belongs to it (blank lines do not close a
      // group; the next User-agent line after a non-UA line does).
      // Field names match case-insensitively (§2.1); rule VALUES —
      // the path prefixes — keep their case. A group's rules apply to
      // * iff ANY of its stacked UA lines is *.
      val robots = Warc.read(c.spark, robotsFixtureDir(c))
        .select(regexp_extract(col("url"), "https://([^/]+)/", 1).as("host"),
          col("payload"))
      // normalize each line ONCE before any predicate sees it: strip
      // the RFC 9309 `#`-comment tail, then trim ALL whitespace (the
      // previous shape mixed Spark trim — spaces only — for the
      // ua_line flag with `\s*` in the value regexes, so a
      // tab-indented `User-agent:` line would be missed as a group
      // opener and a trailing `# note` would ride into the prefix)
      val lines = robots.select(col("host"),
          posexplode(split(col("payload"), "\n")).as(Seq("i", "raw")))
        .withColumn("line", trim(regexp_replace(col("raw"), "#.*$", "")))
        .drop("raw")
      val wSeq = Window.partitionBy("host").orderBy("i")
      val wRun = wSeq.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val marked = lines
        .withColumn("ua_line",
          lower(col("line")).startsWith("user-agent:"))
        .withColumn("grp", sum((col("ua_line") &&
            !coalesce(lag(col("ua_line"), 1).over(wSeq), lit(false)))
          .cast(IntegerType)).over(wRun))
      val starGrp = marked.filter(col("ua_line") &&
          trim(regexp_extract(col("line"), "(?i)^user-agent:\\s*(.*)$", 1))
            === "*")
        .select("host", "grp").distinct()
      // frozen: the rule table is consumed by the candidate join AND
      // the size gate's count — one parse, two reads; host-scaled, so
      // the freeze is a distributed materialization, never a collect
      val rules = marked.join(starGrp, Seq("host", "grp"))
        .filter(!col("ua_line"))
        .select(col("host"),
          when(lower(col("line")).startsWith("disallow:"), lit("disallow"))
            .when(lower(col("line")).startsWith("allow:"), lit("allow"))
            .as("rtype"),
          trim(regexp_extract(col("line"), "(?i)^(?:dis)?allow:\\s*(.*)$", 1))
            .as("prefix"))
        .filter(col("rtype").isNotNull && length(col("prefix")) > 0)
        .localCheckpoint(true)
      // candidate URLs over the shared host universe
      val cand = c.documents.select(col("doc_id"),
        concat(lit("host"), col("doc_id") % hN, lit(".example")).as("host"),
        when(col("doc_id") % 4 === 0,
            concat(lit("/private/"), col("doc_id")))
          .when(col("doc_id") % 6 === 0,
            concat(lit("/doc/pub/"), col("doc_id")))
          .otherwise(concat(lit("/doc/"), col("doc_id"))).as("path"))
      // rule table is host-SCALED, not bounded — broadcast only below
      // the size gate (read from the checkpoint's block sizes: zero
      // extra jobs, r19 fix for the r18 count()-action regression);
      // longest-match decision stays one map-side max-struct agg
      // (len, allow, prefix) per url either way
      val matches = cand.join(maybeBroadcastCheckpointed(rules), Seq("host"))
        .filter(col("path").startsWith(col("prefix")))
        .groupBy("doc_id")
        .agg(max(struct(length(col("prefix")).as("len"),
          (col("rtype") === "allow").as("is_allow"),
          col("prefix").as("prefix"),
          col("rtype").as("rtype"))).as("b"))
      cand.join(matches, Seq("doc_id"), "left")
        .select(
          concat(lit("https://"), col("host"), col("path")).as("url"),
          col("host"),
          coalesce(col("b.is_allow"), lit(true)).as("allowed"),
          when(col("b.rtype").isNotNull,
            concat(col("b.rtype"), lit(" "), col("b.prefix"))).as("matched_rule"),
          col("b.len").cast(LongType).as("matched_len"))
        .orderBy("url")
    }
  }

  // ---------------------------------------------------------------
  // p08 — DOMAIN-RANK CURATION: the FineWeb-class "domain authority"
  // pass, composed front to back from REGISTERED stages — w04's WAT
  // parse produces the host link graph from container bytes, x27's
  // pagerank (PageRank.ranks, identical iterations/scale via the
  // shared constants) ranks the hosts, and every document is kept or
  // dropped by its host's rank (top-24 of the 97-host universe).
  // Curation by domain authority is a real corpus lever: it is how
  // production pipelines suppress link-farm/spam hosts without
  // touching document text. Scale shape: the edge list is the w04
  // aggregate (host²-bounded), pagerank runs on the HOST graph
  // (thousands-to-millions of hosts at 100 TB, never documents), the
  // rank table is host-bounded → ONE BROADCAST join back to the
  // corpus; the rank window is a 97-row frame (host-bounded by
  // construction — fine single-partition). Oracle: x27's shared rank
  // CTE chain + the same row_number/threshold, so the composed
  // curation cannot drift from the registered pagerank entry
  // (WebSpec additionally pins p08's (host, pr_scaled) pairs equal to
  // x27's output).
  val p08: Q = {
    val hN = TextQueries.x27Hosts
    val topHosts = 24
    q("p08_domain_rank_curation",
      s"""WITH ${TextQueries.x27RankCtes},
        |ranked AS (SELECT host, rank AS pr_scaled,
        |    row_number() OVER (ORDER BY rank DESC, host) AS host_rank
        |  FROM r${TextQueries.x27Iters}),
        |docs AS (SELECT doc_id, doc_id % $hN AS host FROM documents)
        |SELECT d.doc_id, CAST(d.host AS BIGINT) AS host, r.pr_scaled,
        |  CAST(r.host_rank AS BIGINT) AS host_rank,
        |  r.host_rank <= $topHosts AS kept
        |FROM docs d JOIN ranked r ON d.host = r.host
        |ORDER BY d.doc_id""") { c =>
      // the link graph from CONTAINER BYTES: w04's shared pre-sort
      // aggregate (the registered w04 = this + an oracle orderBy the
      // next exchange would discard), hosts to numbers, x27's edge
      // closure (no self-loops, distinct)
      val edges = watLinkCounts(c)
        .select(regexp_extract(col("src_host"), "host(\\d+)", 1)
          .cast(LongType).as("src"),
          regexp_extract(col("dst_host"), "host(\\d+)", 1)
            .cast(LongType).as("dst"))
        .filter(col("src") =!= col("dst")).distinct()
      val pr = graft.operators.PageRank
        .ranks(edges, iters = TextQueries.x27Iters, scale = TextQueries.x27Scale)
      // TWO-PHASE GLOBAL RANK (the x16/Ntile.exact prefix-sum
      // discipline): hosts SCALE with the corpus, so the former
      // `row_number().over(Window.orderBy(...))` — every host through
      // ONE task — is replaced by range-partition on the sort key +
      // per-partition row_number + broadcast partition offsets. The
      // sort key (pr_scaled DESC, host ASC) is a total order (host is
      // unique), so the assignment is bit-identical to the global
      // window at any partitioning. Frozen once: the offsets aggregate,
      // the rank window, and the size gate's count all read the same
      // materialized range layout (Ntile.exact's boundary-drift fix).
      val byKey = pr.select(col("host"), col("pr_scaled"))
        .repartitionByRange(col("pr_scaled").desc, col("host").asc)
        .withColumn("__pid", spark_partition_id())
        .localCheckpoint(true)
      val offs = byKey.groupBy("__pid").agg(count(lit(1)).as("__cnt"))
        .select(col("__pid"),
          coalesce(sum("__cnt").over(Window.orderBy("__pid")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)).as("__off"))
      val ranked = byKey.join(broadcast(offs), "__pid")
        .withColumn("host_rank",
          (col("__off") + row_number().over(Window.partitionBy("__pid")
            .orderBy(col("pr_scaled").desc, col("host").asc)))
            .cast(IntegerType))
        .drop("__pid", "__off")
      // rank table is host-scaled: broadcast only below the size gate
      // (read from the frozen range layout's checkpoint block sizes —
      // zero extra jobs, r19 fix for the r18 count()-action cost)
      c.documents.select(col("doc_id"), (col("doc_id") % hN).as("host"))
        .join(maybeBroadcastCheckpointed(ranked), "host")
        .select(col("doc_id"), col("host").cast(LongType).as("host"),
          col("pr_scaled"), col("host_rank").cast(LongType).as("host_rank"),
          (col("host_rank") <= topHosts).as("kept"))
        .orderBy("doc_id")
    }
  }

  /** The CDX selection — ONE source of truth for w03 (the registered
    * index-select entry) and p07 (the composed index-driven ingest):
    * status-200/text-html predicates, then latest-capture-per-digest
    * re-crawl dedup as one map-side-combinable max-struct aggregate.
    */
  private[queries] def cdxSelect(captures: DataFrame): DataFrame =
    captures
      .filter(col("status") === "200" && col("mime") === "text/html")
      .groupBy("digest")
      .agg(max(struct(col("ts"), col("url"), col("urlkey"), col("length"),
        col("offset"), col("filename"))).as("m"))
      .select(col("digest"), col("m.url").as("url"), col("m.urlkey").as("urlkey"),
        col("m.ts").as("ts"), col("m.length").as("length"),
        col("m.offset").as("offset"), col("m.filename").as("filename"))

  /** w03's selection recomputed from the source table (caps = every
    * capture the fixture renders, f = the filter pass, rk = the
    * per-digest re-crawl ranking) — shared by w03's oracle and p07's,
    * so the pipeline composition cannot drift from the registered
    * stage.
    */
  private[queries] val cdxSelectSqlCtes: String =
    """caps AS (
      |  SELECT doc_id, text, 20240101000000 + doc_id AS ts,
      |    doc_id * 1000 AS "offset", 'crawl/shard-0.warc.gz' AS filename
      |  FROM documents
      |  UNION ALL
      |  SELECT doc_id, text, 20250101000000 + doc_id AS ts,
      |    doc_id * 1000 + 500 AS "offset", 'crawl/shard-1.warc.gz' AS filename
      |  FROM documents WHERE doc_id % 3 = 0),
      |f AS (SELECT md5(text) AS digest,
      |    'https://crawl.example/doc/' || CAST(doc_id AS VARCHAR) AS url,
      |    'example,crawl)/doc/' || CAST(doc_id AS VARCHAR) AS urlkey,
      |    ts, CAST(strlen(text) AS BIGINT) AS length, "offset", filename
      |  FROM caps WHERE doc_id % 7 <> 0 AND doc_id % 4 <> 0),
      |rk AS (SELECT *, row_number() OVER (PARTITION BY digest
      |         ORDER BY ts DESC, url DESC, urlkey DESC, length DESC,
      |           "offset" DESC, filename DESC) AS r
      |       FROM f)"""

  val w03: Q = q("w03_cdx_index",
    s"""WITH $cdxSelectSqlCtes
      |SELECT digest, url, urlkey, CAST(ts AS BIGINT) AS ts, length,
      |  CAST("offset" AS BIGINT) AS "offset", filename
      |FROM rk WHERE r = 1 ORDER BY digest""") { c =>
    cdxSelect(Cdx.read(c.spark, cdxFixtureDir(c)))
      .orderBy("digest")
  }

  // ---------------------------------------------------------------
  // x34 — HTML BOILERPLATE EXTRACTION (the trafilatura/jusText-class
  // stage every CC-derived pipeline runs FIRST — before x01 langid,
  // x02 quality, d02 dedup — because real corpora arrive as markup,
  // not clean text). Block-level link-density classification, the
  // jusText core: strip script/style, split the page into blocks at
  // block-level tags, score each block by alphanumeric mass and the
  // share of it living inside <a> anchors, keep blocks that are long
  // enough (≥25 alnum chars) and not link-dominated (link mass < 1/3)
  // — nav bars, ad units, headings, and footers fail one or both
  // tests, article paragraphs pass. Scale shape: the WHOLE operator
  // is one narrow projection over higher-order array functions
  // (split → transform → filter → concat) — ZERO shuffles, fully
  // codegen-friendly, no explode round-trip (the orderBy is oracle
  // determinism, the x20 rule). Fixture: both engines wrap each doc's
  // text in identical deterministic markup (nav/ads/h1/2-paragraph
  // body/footer, ad unit on doc_id%3=0 — the d08 injection recipe),
  // so the DOM-walk-free block algebra itself is what hash-gates;
  // recall on the planted blocks (paragraphs recovered verbatim,
  // boilerplate never leaks) is spec-pinned.
  /** The x34 CTE chain (markup injection from (doc_id, text) +
    * block extraction to `o`: doc_id, n_blocks, n_kept, content) —
    * shared by x34's oracle and p06's, so the pipeline composition
    * cannot drift from the registered stage.
    */
  private[queries] val htmlExtractSqlCtes: String =
    """t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |h AS (SELECT doc_id,
      |  '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) ||
      |  '</title><style>.m{color:#111}</style><script>var t=1;</script></head><body>' ||
      |  '<nav><a href="/">Home</a> <a href="/tags">Tags</a> <a href="/feed">RSS</a></nav>' ||
      |  CASE WHEN doc_id % 3 = 0
      |    THEN '<div><a href="https://ads.example/c">Buy now</a> <a href="https://ads.example/d">Deals</a></div>'
      |    ELSE '' END ||
      |  '<h1>' || array_to_string(w[1:3], ' ') || '</h1>' ||
      |  '<p>' || array_to_string(w[1:len(w)//2], ' ') || '</p>' ||
      |  '<p>' || array_to_string(w[len(w)//2+1:len(w)], ' ') || '</p>' ||
      |  '<footer><a href="/privacy">Privacy</a> <a href="/terms">Terms</a> (c) 2024</footer></body></html>'
      |  AS html FROM t),
      |s AS (SELECT doc_id, regexp_replace(regexp_replace(html,
      |    '(?s)<script[^>]*>.*?</script>', ' ', 'g'),
      |    '(?s)<style[^>]*>.*?</style>', ' ', 'g') AS h2 FROM h),
      |b AS (SELECT doc_id, string_split(regexp_replace(h2,
      |    '<(p|div|nav|footer|h1)', chr(1) || '<\1', 'g'), chr(1)) AS blocks FROM s),
      |sc AS (SELECT doc_id, len(blocks) AS n_blocks, list_transform(blocks, x -> {
      |    'txt': trim(regexp_replace(regexp_replace(x, '<[^>]*>', ' ', 'g'), '\s+', ' ', 'g')),
      |    'alnum': strlen(regexp_replace(regexp_replace(x, '<[^>]*>', ' ', 'g'), '[^A-Za-z0-9]', '', 'g')),
      |    'linkless': strlen(regexp_replace(regexp_replace(regexp_replace(x,
      |       '(?s)<a[^>]*>.*?</a>', ' ', 'g'), '<[^>]*>', ' ', 'g'), '[^A-Za-z0-9]', '', 'g'))
      |  }) AS sb FROM b),
      |k AS (SELECT doc_id, n_blocks,
      |  list_filter(sb, e -> e.alnum >= 25 AND 3*(e.alnum - e.linkless) < e.alnum) AS kept
      |  FROM sc),
      |o AS (SELECT doc_id, n_blocks, len(kept) AS n_kept,
      |  COALESCE(array_to_string(list_transform(kept, e -> e.txt), ' '), '')
      |    AS content FROM k)"""

  val x34: Q = q("x34_html_extract",
    s"""WITH $htmlExtractSqlCtes
      |SELECT doc_id, CAST(n_blocks AS BIGINT) AS n_blocks,
      |  CAST(n_kept AS BIGINT) AS n_kept,
      |  CAST(length(content) AS BIGINT) AS n_content_chars,
      |  md5(content) AS content_md5
      |FROM o ORDER BY doc_id""") { c =>
    extractContent(c.documents.select(col("doc_id"), col("text")),
        htmlOf(col("doc_id"), split(col("text"), " ")))
      .select(col("doc_id"),
        col("n_blocks").cast(LongType).as("n_blocks"),
        col("n_kept").cast(LongType).as("n_kept"),
        length(col("content")).cast(LongType).as("n_content_chars"),
        md5(col("content").cast("binary")).as("content_md5"))
      .orderBy("doc_id")
  }

  /** The deterministic markup injection — one source of truth for
    * x34 (over documents) and p06 (over WET payloads).
    */
  private[queries] def htmlOf(docId: Column, w: Column): Column = {
    val half = floor(size(w) / 2).cast(IntegerType)
    concat(
      lit("<html><head><title>Doc "), docId.cast("string"),
      lit("</title><style>.m{color:#111}</style><script>var t=1;</script></head><body>"),
      lit("<nav><a href=\"/\">Home</a> <a href=\"/tags\">Tags</a> <a href=\"/feed\">RSS</a></nav>"),
      when(docId % 3 === 0,
        "<div><a href=\"https://ads.example/c\">Buy now</a> <a href=\"https://ads.example/d\">Deals</a></div>")
        .otherwise(""),
      lit("<h1>"), array_join(slice(w, 1, 3), " "), lit("</h1>"),
      lit("<p>"), array_join(slice(w, lit(1), half), " "), lit("</p>"),
      lit("<p>"), array_join(slice(w, half + 1, size(w)), " "), lit("</p>"),
      lit("<footer><a href=\"/privacy\">Privacy</a> <a href=\"/terms\">Terms</a> (c) 2024</footer></body></html>"))
  }

  /** The block-level extraction, staged exactly like the original
    * x34 projection chain (withColumn stages collapse into ONE
    * whole-stage-codegen projection whose duplicated subtrees are
    * shared by subexpression elimination — both a struct select and
    * an inline() generator measured 2.4x slower at sf0.1): strip
    * script/style, split at block tags, keep long non-link-dominated
    * blocks. Appends (n_blocks, n_kept, content); shared by x34 and
    * p06.
    */
  private[queries] def extractContent(df: org.apache.spark.sql.DataFrame,
      html: Column): org.apache.spark.sql.DataFrame = {
    val stripped = regexp_replace(regexp_replace(html,
      "(?s)<script[^>]*>.*?</script>", " "),
      "(?s)<style[^>]*>.*?</style>", " ")
    val blocks = split(
      regexp_replace(stripped, "<(p|div|nav|footer|h1)", "<$1"),
      "")
    def alnumLen(x: Column) =
      length(regexp_replace(regexp_replace(x, "<[^>]*>", " "), "[^A-Za-z0-9]", ""))
    df.withColumn("__blocks", blocks)
      .withColumn("__kept", filter(transform(col("__blocks"), x => struct(
        trim(regexp_replace(regexp_replace(x, "<[^>]*>", " "), "\\s+", " ")).as("txt"),
        alnumLen(x).as("alnum"),
        alnumLen(regexp_replace(x, "(?s)<a[^>]*>.*?</a>", " ")).as("linkless"))),
        e => e("alnum") >= 25 && lit(3) * (e("alnum") - e("linkless")) < e("alnum")))
      .withColumn("n_blocks", size(col("__blocks")))
      .withColumn("n_kept", size(col("__kept")))
      .withColumn("content",
        array_join(transform(col("__kept"), e => e("txt")), " "))
      .drop("__blocks", "__kept")
  }

  // ---------------------------------------------------------------
  // p06 — the CRAWL-INGEST PIPELINE: the whole front door COMPOSED in
  // one dataflow, starting from container bytes — w01's WET records
  // (doc identity recovered from the record's own URL — provenance
  // travels through the container, never side-channeled), x34's
  // markup extraction, x01's stopword language predictor on the
  // EXTRACTED content, d01's keep-first exact dedup on the content
  // hash. This is where a real 100 TB curation run starts; every
  // stage is the registered operator's exact predicate (shared
  // helpers, cannot drift). Scale shape: one splittable container
  // scan → one narrow HOF projection (extraction + langid features)
  // → ONE md5-window shuffle (the dedup, inherent). Oracle: the
  // shared x34 CTE chain + the p04 language CASE + the keep-first
  // window, recomputed from the source table the fixture renders
  // from.
  val p06: Q = q("p06_crawl_ingest_pipeline",
    s"""WITH $htmlExtractSqlCtes,
      |tk AS (SELECT doc_id, n_blocks, n_kept, content,
      |         string_split(lower(content), ' ') AS toks FROM o),
      |hh AS (SELECT doc_id, n_blocks, n_kept, content, len(toks) AS n_tokens,
      |  len(list_filter(toks, x -> x IN ${SharedSql.inList(graft.functions.Text.enStops)})) AS en_hits,
      |  len(list_filter(toks, x -> x IN ${SharedSql.inList(graft.functions.Text.esStops)})) AS es_hits,
      |  len(list_filter(toks, x -> x IN ${SharedSql.inList(graft.functions.Text.deStops)})) AS de_hits,
      |  len(list_filter(toks, x -> x IN ${SharedSql.inList(graft.functions.Text.frStops)})) AS fr_hits
      |  FROM tk),
      |lg AS (SELECT *,
      |  CASE WHEN en_hits >= es_hits AND en_hits >= de_hits AND en_hits >= fr_hits THEN 'en'
      |       WHEN es_hits >= de_hits AND es_hits >= fr_hits THEN 'es'
      |       WHEN de_hits >= fr_hits THEN 'de' ELSE 'fr' END AS pred_lang FROM hh),
      |kf AS (SELECT *, doc_id = MIN(doc_id) OVER (PARTITION BY md5(content)) AS kept FROM lg)
      |SELECT doc_id, CAST(n_blocks AS BIGINT) AS n_blocks,
      |  CAST(n_kept AS BIGINT) AS n_kept,
      |  CAST(n_tokens AS BIGINT) AS n_tokens,
      |  pred_lang, kept, md5(content) AS content_md5
      |FROM kf ORDER BY doc_id""") { c =>
    import graft.functions.Text
    val recs = Warc.read(c.spark, wetFixtureDir(c))
      .select(regexp_extract(col("url"), "doc/(\\d+)$", 1)
        .cast(LongType).as("doc_id"), col("payload"))
    val extracted = extractContent(recs,
      htmlOf(col("doc_id"), split(col("payload"), " "))).drop("payload")
    val toks = Text.tokens(col("content"))
    val lg = extracted
      .withColumn("n_tokens", size(toks))
      .withColumn("en_hits", Text.hitCount(toks, Text.enStops))
      .withColumn("es_hits", Text.hitCount(toks, Text.esStops))
      .withColumn("de_hits", Text.hitCount(toks, Text.deStops))
      .withColumn("fr_hits", Text.hitCount(toks, Text.frStops))
      .withColumn("pred_lang", Text.predLang(col("en_hits"),
        col("es_hits"), col("de_hits"), col("fr_hits")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(col("content").cast("binary")))
    lg.withColumn("kept", col("doc_id") === min("doc_id").over(w))
      .select(col("doc_id"),
        col("n_blocks").cast(LongType).as("n_blocks"),
        col("n_kept").cast(LongType).as("n_kept"),
        col("n_tokens").cast(LongType).as("n_tokens"),
        col("pred_lang"), col("kept"),
        md5(col("content").cast("binary")).as("content_md5"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------
  // p07 — INDEX-DRIVEN SELECTIVE INGEST: how a real CC-scale run
  // actually uses w03 + w01 TOGETHER — query the capture index first
  // (w03's exact selection: status/MIME filters + latest-capture-per-
  // digest dedup over the ~1%-sized index), then FETCH ONLY THE
  // SURVIVORS from the containers and extract them (x34's exact block
  // algebra). p06 is "ingest everything"; p07 is the selective form —
  // the container side's work is proportional to what the index
  // ADMITS, not to the crawl (here: the 404/PDF/re-crawl-duplicate
  // captures never reach extraction, and the output proves it row for
  // row). Every stage is the registered operator's helper (cdxSelect,
  // extractContent/htmlOf — cannot drift). Scale shape: index scan →
  // map-side-combined digest dedup (w03's one shuffle) → ONE
  // equi-join against the parsed container records (in production the
  // survivors' (filename, offset, length) triples drive range-reads
  // instead — the join stands in for the fetch, co-partitionable on
  // the record key at 100 TB) → one zero-shuffle HOF extraction.
  // Oracle: w03's shared selection CTEs + the shared x34 extraction
  // chain, joined on the doc identity BOTH sides recover from the
  // record's own URL.
  val p07: Q = q("p07_index_selected_ingest",
    s"""WITH $cdxSelectSqlCtes,
      |sel AS (SELECT digest, ts,
      |    CAST(regexp_extract(url, 'doc/(\\d+)$$', 1) AS BIGINT) AS doc_id
      |  FROM rk WHERE r = 1),
      |$htmlExtractSqlCtes,
      |j AS (SELECT o.doc_id, sel.ts, o.n_blocks, o.n_kept, o.content
      |      FROM o JOIN sel ON o.doc_id = sel.doc_id)
      |SELECT doc_id, CAST(ts AS BIGINT) AS ts,
      |  CAST(n_blocks AS BIGINT) AS n_blocks,
      |  CAST(n_kept AS BIGINT) AS n_kept,
      |  CAST(len(string_split(lower(content), ' ')) AS BIGINT) AS n_tokens,
      |  md5(content) AS content_md5
      |FROM j ORDER BY doc_id""") { c =>
    import graft.functions.Text
    val sel = cdxSelect(Cdx.read(c.spark, cdxFixtureDir(c)))
      .select(regexp_extract(col("url"), "doc/(\\d+)$", 1)
        .cast(LongType).as("doc_id"), col("ts"))
    val recs = Warc.read(c.spark, wetFixtureDir(c))
      .select(regexp_extract(col("url"), "doc/(\\d+)$", 1)
        .cast(LongType).as("doc_id"), col("payload"))
    val fetched = recs.join(sel, "doc_id") // only index survivors fetched
    extractContent(fetched,
        htmlOf(col("doc_id"), split(col("payload"), " ")))
      .select(col("doc_id"), col("ts"),
        col("n_blocks").cast(LongType).as("n_blocks"),
        col("n_kept").cast(LongType).as("n_kept"),
        size(Text.tokens(col("content"))).cast(LongType).as("n_tokens"),
        md5(col("content").cast("binary")).as("content_md5"))
      .orderBy("doc_id")
  }
}
