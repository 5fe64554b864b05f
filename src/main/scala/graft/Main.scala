package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ci.{CopyResult, IncrementalCI, TableCopier}
import graft.cli.DemoProject
import graft.core._
import graft.operators.DataQuality
import graft.sources.Catalog

/** Command-line config — the Spark-native rendering of the reference
  * CLI's options (reference: src/dbt_incremental_ci/cli.py:22-112 —
  * manifest path, project dir, database URI, CI schema, threads,
  * dry-run, verbose). The database URI becomes the warehouse root;
  * the dbt project dir becomes the built-in demo DAG sized by
  * `--slices`; the prod manifest is the warehouse artifact a prior
  * `run` persisted (the dbt-Cloud HTTP fetch is out of scope, SURVEY
  * §4).
  */
final case class CliConfig(
    command: String = "",
    sfDir: String = "/root/testdata/sf0.001",
    warehouseRoot: String = "/tmp/graft_warehouse",
    schema: String = "analytics",
    suffix: String = "ci",
    threads: Int = 1,
    slices: Int = 19,
    changed: Set[String] = Set.empty,
    cutoff: Option[String] = None,
    select: Option[String] = None,
    selector: Option[String] = None,
    selectorsYml: Option[String] = None,
    manifestPath: Option[String] = None,
    jdbcUrl: Option[String] = None,
    onSuffixed: Boolean = false,
    dryRun: Boolean = false,
    empty: Boolean = false,
    fullRefresh: Boolean = false,
    storeFailures: Boolean = false,
    vars: Map[String, String] = Map.empty,
    verbose: Boolean = false)

/** `graft run|test|clone|ci` — the engine's front door, mirroring the
  * reference's console entry point (reference:
  * src/dbt_incremental_ci/cli.py:22-243 + core.py orchestration):
  *
  *  - `run`   — materialize the demo DAG into the warehouse and persist
  *              the manifest artifact (`dbt run` + manifest handoff);
  *  - `test`  — data-quality checks over the materialized marts
  *              (`dbt test`: a check passes at zero violations);
  *  - `clone` — copy every incremental/snapshot model's prod state into
  *              the `_<suffix>` schema (copier.py:110-284);
  *  - `ci`    — the full workflow: diff the persisted manifest against
  *              the current graph (with `--changed` simulating a PR's
  *              edited model bodies), expand to the `state:modified+`
  *              closure, clone only the closure's incremental/snapshot
  *              targets, then run the closure in the suffixed schema
  *              with out-of-closure refs deferred to prod state — the
  *              reference's detect → filter → copy → build loop.
  *
  * Every subcommand returns a structured report (asserted in
  * EngineSpec); `main` only parses, dispatches, prints, and exits.
  */
object Main {

  val usage: String =
    """usage: graft.Main <run|retry|test|unit|clone|ci|clean|docs|ls> [options]
      |  --sf-dir <dir>         source parquet dir (default /root/testdata/sf0.001)
      |  --warehouse <root>     warehouse root (default /tmp/graft_warehouse)
      |  --schema <name>        base warehouse schema for `run` (default "analytics");
      |                         test/clone/ci auto-detect it from the persisted manifest
      |  --schema-suffix <s>    CI schema suffix (default "ci")
      |  --threads <n>          parallel table copies, model builds (run and
      |                         retry) and ci's early-cutoff planning
      |                         (default 1)
      |  --slices <n>           demo DAG size: 2n+5 models (default 19 -> 43)
      |  --changed <a,b,...>    model names whose bodies a PR edited (ci)
      |  --cutoff <yyyy-mm-dd>  restrict source orders to before this date (run)
      |  --select <sel>         ci selector; only state:modified+ is supported
      |  --selector <name>      run a NAMED selector from selectors.yml
      |                         (dbt `--selector`): resolves through the
      |                         same --select mini-language, builds only
      |                         the selected subset (refs to unselected
      |                         persisted models read the warehouse)
      |  --selectors-yml <path> selectors.yml location (default
      |                         ./selectors.yml when --selector is used)
      |  --manifest <path>      read the prod manifest from this file instead
      |                         of the warehouse artifact (dbt's --state dir /
      |                         an out-of-band downloaded manifest.json)
      |  --jdbc-url <uri>       clone against an external JDBC warehouse
      |                         (the reference's database URI): tables copy
      |                         IN-DATABASE via dialect CTAS into the
      |                         suffix-mapped CI schema
      |  --on-suffixed          point `test` at the _<suffix> schema
      |  --store-failures       persist each failing test's violation
      |                         rows into the dbt_test__audit schema
      |  --vars <k=v,...>       bind {{ var() }} values in SQL-text
      |                         models (a rebound var is a body diff
      |                         ci's state:modified detects)
      |  --dry-run              report what ci/clone WOULD copy
      |  --empty                dbt >=1.8 `run --empty`: schema-validating
      |                         dry run — all sources LIMIT 0, every model
      |                         materializes empty into the _<suffix> CI
      |                         schema (never prod), exits 1 on contract
      |                         violations; no manifest/journal writes
      |  --full-refresh         incremental models rebuild from scratch;
      |                         ci reuses no prod table
      |  --verbose              per-model/table detail lines
      |
      |  unit: run the demo project's dbt-style unit tests — each case
      |  builds its model from mocked fixture rows only (no warehouse,
      |  no sources) and diffs against the expected rows.
      |
      |  retry: resume the last failed `run` from its point of failure
      |  (journaled-and-unchanged models are skipped; an append model
      |  caught in the write-vs-journal crash window rebuilds instead
      |  of double-appending).
      |
      |  clean: drop every `_<suffix>` CI schema (never the base
      |  schema) and sweep staged-swap debris (abandoned .__tmp/.__ctmp
      |  staging, completed-swap .__old backups, orphaned artifact
      |  temps); half-swaps are healed, never deleted. --dry-run
      |  reports without deleting.
      |
      |  ls: `dbt ls` — resolve --select (full mini-language) or a
      |  named --selector against the demo DAG and print the selected
      |  nodes (name, materialization, tags) in topological order;
      |  builds nothing, reads nothing but selectors.yml.
      |
      |  docs: `dbt docs generate` — profile the persisted tables of
      |  the last run's schema (row/null/distinct counts per column)
      |  and save the catalog.json warehouse artifact.""".stripMargin

  def parse(args: Seq[String]): Either[String, CliConfig] = {
    if (args.isEmpty) return Left("missing command\n" + usage)
    val cmd = args.head
    if (!Set("run", "retry", "test", "unit", "clone", "ci", "clean", "docs", "ls").contains(cmd))
      return Left(s"unknown command '$cmd'\n" + usage)
    @annotation.tailrec
    def loop(rest: List[String], cfg: CliConfig): Either[String, CliConfig] =
      rest match {
        case Nil => Right(cfg)
        case "--sf-dir" :: v :: t => loop(t, cfg.copy(sfDir = v))
        case "--warehouse" :: v :: t => loop(t, cfg.copy(warehouseRoot = v))
        case "--schema" :: v :: t => loop(t, cfg.copy(schema = v))
        case "--schema-suffix" :: v :: t => loop(t, cfg.copy(suffix = v))
        case "--threads" :: v :: t => loop(t, cfg.copy(threads = v.toInt))
        case "--slices" :: v :: t => loop(t, cfg.copy(slices = v.toInt))
        case "--changed" :: v :: t =>
          loop(t, cfg.copy(changed = v.split(",").map(_.trim).filter(_.nonEmpty).toSet))
        case "--cutoff" :: v :: t => loop(t, cfg.copy(cutoff = Some(v)))
        case "--select" :: v :: t => loop(t, cfg.copy(select = Some(v)))
        case "--selector" :: v :: t => loop(t, cfg.copy(selector = Some(v)))
        case "--selectors-yml" :: v :: t =>
          loop(t, cfg.copy(selectorsYml = Some(v)))
        case "--manifest" :: v :: t => loop(t, cfg.copy(manifestPath = Some(v)))
        case "--jdbc-url" :: v :: t => loop(t, cfg.copy(jdbcUrl = Some(v)))
        case "--on-suffixed" :: t => loop(t, cfg.copy(onSuffixed = true))
        case "--store-failures" :: t => loop(t, cfg.copy(storeFailures = true))
        case "--vars" :: v :: t =>
          val pairs = v.split(",").map(_.trim).filter(_.nonEmpty)
          if (pairs.exists(!_.contains("=")))
            Left(s"bad --vars '$v' (want k=v,...)")
          else loop(t, cfg.copy(vars = pairs.map { kv =>
            val Array(k, value) = kv.split("=", 2)
            k.trim -> value.trim
          }.toMap))
        case "--dry-run" :: t => loop(t, cfg.copy(dryRun = true))
        case "--empty" :: t => loop(t, cfg.copy(empty = true))
        case "--full-refresh" :: t => loop(t, cfg.copy(fullRefresh = true))
        case "--verbose" :: t => loop(t, cfg.copy(verbose = true))
        case other :: _ => Left(s"unknown option '$other'\n" + usage)
      }
    loop(args.tail.toList, CliConfig(command = cmd)).flatMap { cfg =>
      cfg.select match {
        case Some(s) if cfg.command == "ci" && s != "state:modified+" =>
          Left(s"unsupported ci selector '$s' (only state:modified+)")
        case _ =>
          if (cfg.selector.isDefined && !Set("run", "ls")(cfg.command))
            Left("--selector applies to `run` and `ls` only")
          else if (cfg.select.isDefined && !Set("ci", "ls")(cfg.command))
            Left("--select applies to `ci` and `ls` only")
          else Right(cfg)
      }
    }
  }

  // ----------------------------------------------------------------
  // reports (spec-assertable, printing lives in main)

  /** `skipped`: what `retry` found journaled complete and unchanged. */
  final case class RunReport(ran: Seq[String], counts: Map[String, Long],
      secs: Map[String, Double] = Map.empty, wallSec: Double = 0.0,
      skipped: Seq[String] = Nil)
  final case class TestReport(checks: Seq[(String, Long)],
      stored: Seq[String] = Nil) {
    def failed: Boolean = checks.exists(_._2 > 0)
  }
  /** `ran` is what the Runner built; `reused` the closure tables
    * copied from prod by early cutoff. `ciCounts` covers both.
    */
  final case class CiReport(
      selection: IncrementalCI.Selection,
      copies: Seq[CopyResult],
      ran: Seq[String],
      ciCounts: Map[String, Long],
      ciSchema: String = "",
      reused: Seq[String] = Nil)

  /** A user-correctable CLI failure (e.g. `ci` before any `run` has
    * persisted a manifest): `main` prints the message to stderr and
    * exits 2 — the same clean path parse errors take — instead of an
    * uncaught stack trace.
    */
  final class CliError(msg: String) extends RuntimeException(msg)

  /** Where this invocation acquires the prod manifest: `--manifest
    * <path>` overrides the default warehouse artifact (the acquisition
    * seam — core/ManifestSource.scala).
    */
  def manifestSource(wh: Warehouse, cfg: CliConfig): ManifestSource =
    cfg.manifestPath.map(ManifestSource.FilePath(_))
      .getOrElse(ManifestSource.WarehouseArtifact(wh))

  /** The warehouse base schema: inferred from the persisted manifest
    * (what the last `run` actually materialized — reference:
    * src/dbt_incremental_ci/core.py:98-132 reads it off manifest.json),
    * falling back to `--schema` when no manifest exists yet.
    */
  def baseSchemaOf(wh: Warehouse, cfg: CliConfig): String =
    manifestSource(wh, cfg).fetch().flatMap(_.baseSchema).getOrElse(cfg.schema)

  /** Raw-source resolution (dbt `source()`): catalog tables, with the
    * `--cutoff` date restricting orders — how the demo stages a "prod
    * as of yesterday" state for a later ci run to append onto.
    */
  def sources(spark: SparkSession, cfg: CliConfig): String => DataFrame = {
    val c = Catalog(spark, cfg.sfDir)
    name =>
      cfg.cutoff match {
        case Some(d) if name == "orders" =>
          c.orders.filter(col("o_orderdate") < lit(d).cast("timestamp"))
        case _ => c.table(name)
      }
  }

  /** dbt `--defer` ([[Runner.deferResolve]]): the one resolver `run`,
    * `retry` and `ci` share for the refs they do not build.
    */
  def deferResolve(graph: ModelGraph, wh: Warehouse,
      srcs: String => DataFrame): String => DataFrame =
    Runner.deferResolve(graph, wh, srcs)

  /** `run --empty` (dbt ≥1.8): schema-validating dry run — the demo
    * DAG builds with LIMIT-0 sources into the `_<suffix>` CI schema
    * (an empty validation must never overwrite prod relations), and
    * neither the manifest nor the retry journal is touched (an empty
    * run is not a state a later `ci`/`retry` should diff against).
    */
  def emptyValidate(spark: SparkSession, cfg: CliConfig): Seq[EmptyRun.Validation] = {
    val wh = Warehouse(spark, cfg.warehouseRoot)
    val graph0 = DemoProject.graph(cfg.slices, schema = cfg.schema, vars = cfg.vars)
    val graph = ModelGraph(graph0.models.map(m =>
      m.copy(schemaSuffix = Some(cfg.suffix))))
    EmptyRun.validate(Materializer(wh), graph, sources(spark, cfg))
  }

  /** `dbt run`: materialize the full demo DAG, then persist the
    * manifest artifact the next ci run diffs against.
    */
  def run(spark: SparkSession, cfg: CliConfig): RunReport =
    run(spark, cfg, DemoProject.graph(cfg.slices, schema = cfg.schema, vars = cfg.vars))

  /** `run` over `graph` instead of the demo DAG: clear the journal and
    * intents, save the schema this run targets, then the same
    * journaled run as `retry`. With `--selector` (dbt `run --selector
    * <name>`) only the named selector's models build — it resolves
    * through the same mini-language as an inline --select — and refs
    * to the others read the warehouse.
    */
  private[graft] def run(spark: SparkSession, cfg: CliConfig, graph: ModelGraph): RunReport = {
    val wh = Warehouse(spark, cfg.warehouseRoot)
    val selected = cfg.selector.map(namedSelection(cfg, graph, _))
    // the manifest only saves at run END — after a crash it still
    // describes the previous run, so a bare `retry` reads the schema
    // from here
    Retry.reset(wh)
    wh.saveArtifact(runSchemaArtifact, cfg.schema)
    journaled(spark, cfg, wh, graph, selected, "run")
  }

  /** The one journaled run behind `run`, `run --selector` and `retry`
    * ([[Retry.run]] over the `only` models, at `--threads`). Each
    * persisted model it builds is fingerprinted as planned
    * ([[Fingerprint]]); run_results.json records every model it
    * started, and on success the manifest stores each built model's
    * fingerprint and the data version of the table it wrote.
    */
  private def journaled(spark: SparkSession, cfg: CliConfig, wh: Warehouse,
      graph: ModelGraph, only: Option[Set[String]],
      command: String): RunReport = {
    val t0 = System.nanoTime()
    val secs = new java.util.concurrent.ConcurrentHashMap[String, Double]()
    val started = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val fingerprints = new java.util.concurrent.ConcurrentHashMap[String, Either[String, String]]()
    val mat = Materializer(wh, onPlanned = (m, df) =>
      if (m.materialization != Materialization.View)
        fingerprints.put(m.name,
          if (cfg.fullRefresh) Left("full refresh") else Fingerprint.of(m, df)))
    val outcome = scala.util.Try(Retry.run(graph, mat, sources(spark, cfg), wh,
      cfg.fullRefresh, threads = cfg.threads, only = only,
      onModelStart = n => { started.add(n); () },
      onModelDone = (n, s) => { secs.put(n, s); () }))
    val wall = (System.nanoTime() - t0) / 1e9
    val done = secs.asScala.toMap
    val byName = graph.byName
    val persisted = graph.models.collect { case m if m.materialization != Materialization.View &&
      only.forall(_(m.name)) => m.name }
    val counts = persisted.collect { case n if done.contains(n) =>
      n -> wh.rowCount(byName(n).targetSchema, n) }.toMap
    RunResults.save(wh, command, wall, RunResults.ran(persisted, started.contains,
      done, counts, n => Option(fingerprints.get(n)).getOrElse(Left("not planned"))))
    val (ran, skipped) = outcome.get
    // a model with a fingerprint is stamped with the data version of
    // the table it just wrote; models this run did not build get none
    val stamps = fingerprints.asScala.collect { case (n, Right(fp)) =>
      n -> Fingerprint.Stamp(fp,
        Fingerprint.dataVersion(spark, wh.path(byName(n).targetSchema, n)))
    }.toMap
    ManifestState.save(wh, ManifestState.of(graph).copy(stamps = stamps))
    RunReport(ran, counts, done, wall, skipped)
  }

  /** Schema the last `run` targeted — written at run START so `retry`
    * can resume it after a crash (unlike the manifest, which commits
    * only on success).
    */
  val runSchemaArtifact = "run_schema"

  /** `dbt retry`: resume the last failed `run` from its point of
    * failure — the same journaled run, over the models the journal
    * does not hold completed and unchanged ([[Retry.run]] semantics,
    * including the ambiguous-append rebuild).
    */
  def retry(spark: SparkSession, cfg: CliConfig): RunReport = {
    val wh = Warehouse(spark, cfg.warehouseRoot)
    // resume the schema the CRASHED run targeted (its artifact commits
    // at run start); the manifest-derived base is the previous
    // successful run's schema and may differ
    val schema = wh.loadArtifact(runSchemaArtifact)
      .getOrElse(baseSchemaOf(wh, cfg))
    val graph = DemoProject.graph(cfg.slices, schema = schema, vars = cfg.vars)
    journaled(spark, cfg, wh, graph, None, "retry")
  }

  /** dbt unit tests over the demo project: each case runs its model's
    * transform against mocked fixture inputs only (no warehouse, no
    * sources touched — the resolver fails loudly if a case under-
    * mocks) and multiset-diffs against the expected rows.
    */
  def unit(spark: SparkSession, cfg: CliConfig): Seq[(String, String, String, Long, Long)] = {
    val graph = DemoProject.graph(cfg.slices)
    val noReal: String => DataFrame = n =>
      throw new CliError(s"unit case references unmocked input '$n'")
    UnitTester.report(spark, graph, DemoProject.unitCases(spark), noReal)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4))).toSeq
  }

  /** `dbt test` over the materialized marts: generic not_null/unique/
    * relationships checks plus one singular cross-model test, summarized
    * as (check_name, n_violations) — pass = all zeros.
    */
  def test(spark: SparkSession, cfg: CliConfig): TestReport = {
    val wh = Warehouse(spark, cfg.warehouseRoot)
    val base = baseSchemaOf(wh, cfg)
    val schema = if (cfg.onSuffixed) s"${base}_${cfg.suffix}" else base
    for (t <- Seq("int_spend_all", "mart_segment_spend", "mart_nation_spend"))
      if (!wh.exists(schema, t)) throw new CliError(
        s"table $schema.$t missing - run `graft.Main run` first")
    val intAll = wh.read(schema, "int_spend_all")
    val seg = wh.read(schema, "mart_segment_spend")
    val nat = wh.read(schema, "mart_nation_spend")
    val nation = Catalog(spark, cfg.sfDir).nation
    val checks = Seq(
      "not_null_int_spend_all_custkey" ->
        DataQuality.notNull(intAll, Seq("o_custkey")),
      "unique_int_spend_all_custkey" ->
        DataQuality.unique(intAll, Seq("o_custkey")),
      "not_null_mart_segment" -> DataQuality.notNull(seg, Seq("c_mktsegment")),
      "unique_mart_nation_key" -> DataQuality.unique(nat, Seq("c_nationkey")),
      "relationships_mart_nation" ->
        DataQuality.relationships(nat, "c_nationkey", nation, "n_nationkey"),
      DataQuality.singular("singular_nonnegative_spend",
        seg.filter(col("spend") < 0)))
    val rows = DataQuality.summarize(checks).orderBy("check_name").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq
    // dbt `--store-failures`: persist each FAILING check's violation
    // rows into the dbt_test__audit schema so a red test is
    // debuggable from the stored rows (the checks map carries the
    // violations frames already — storage is one write per failure)
    val stored =
      if (!cfg.storeFailures) Nil
      else {
        val failing = rows.filter(_._2 > 0).map(_._1).toSet
        checks.collect { case (name, violations) if failing(name) =>
          wh.write(violations, DataQuality.auditSchema, name)
          name
        }
      }
    TestReport(rows, stored)
  }

  /** Standalone clone: every incremental/snapshot model of the DAG,
    * prod -> `_<suffix>` schema (the reference run WITHOUT manifest
    * filtering; copier.py:110-284). With `--jdbc-url` the prod state
    * lives in an external JDBC warehouse and tables copy IN-DATABASE
    * (dialect CTAS — rows never transit Spark), exactly the
    * reference's `database_uri` path; otherwise the parquet
    * warehouse clones as before.
    */
  def clone(spark: SparkSession, cfg: CliConfig): Seq[CopyResult] = {
    val wh = Warehouse(spark, cfg.warehouseRoot)
    val base = baseSchemaOf(wh, cfg)
    val graph = DemoProject.graph(cfg.slices, schema = base, vars = cfg.vars)
    val targets = graph.models.filter(IncrementalCI.isCloneTarget).map(_.name)
    cfg.jdbcUrl match {
      case Some(url) =>
        val jdbc = graft.sources.JdbcWarehouse(spark, url)
        val copier = graft.sources.JdbcCopier(jdbc,
          s"${base}_${cfg.suffix}", baseSchema = Some(base))
        copier.cloneAll(base, targets, cfg.dryRun).map { r =>
          // dry-run opens no connection (reference parity: the dry
          // copier never creates an engine), so row counts are
          // UNKNOWN (-1), not zero — the summary prints them as n/a
          val rows =
            if (r.status == "copied") jdbc.count(r.targetSchema, r.table)
            else -1L
          CopyResult(r.table, r.sourceSchema, r.targetSchema, rows,
            r.dryRun, r.status)
        }
      case None =>
        TableCopier(wh, cfg.threads)
          .copyAll(base, targets, cfg.suffix, cfg.dryRun)
    }
  }

  final case class CleanReport(droppedSchemas: Seq[String],
      droppedDebris: Seq[String])

  /** CI scratch teardown (the reference's `cleanup()`, core.py:220 —
    * release the CI resources a run accreted): drop every `_<suffix>`
    * CI schema and sweep staged-swap debris warehouse-wide. Sweep runs
    * FIRST so a half-swapped prod table is healed, not deleted with
    * the debris. Two guards keep this from eating prod state:
    *
    *  - the BASE schema (from the persisted manifest, falling back to
    *    `--schema`) is never dropped even when its name happens to end
    *    `_<suffix>` — a warehouse built with `run --schema foo_ci`
    *    must survive a default `clean`;
    *  - `--dry-run` reports the would-drop schemas and would-remove
    *    debris without deleting anything (half-swapped backups are
    *    would-HEALS and are excluded from the debris preview).
    */
  def clean(spark: SparkSession, cfg: CliConfig): CleanReport = {
    val wh = Warehouse(spark, cfg.warehouseRoot)
    val base = baseSchemaOf(wh, cfg)
    val ciSchemas = wh.schemas
      .filter(s => s.endsWith(s"_${cfg.suffix}") && s != base)
    if (cfg.dryRun) CleanReport(ciSchemas, wh.debris())
    else {
      val debris = wh.sweep()
      ciSchemas.foreach(wh.dropSchema)
      CleanReport(ciSchemas, debris)
    }
  }

  /** The reference's core workflow, end-to-end on the demo DAG:
    * manifest diff -> modified+ closure -> clone the closure's
    * incremental/snapshot prod state -> run the closure in the
    * suffixed schema with deferred refs. Dry-run stops after reporting
    * what would be copied (reference: cli.py:160-214 summary).
    *
    * Early cutoff ([[IncrementalCI.cutoff]]): a closure table whose
    * fingerprint matches the one prod's run recorded is not rebuilt;
    * its CI table is a file-level copy of prod's. Everything else
    * builds as before, and run_results.json records which was which.
    */
  def ci(spark: SparkSession, cfg: CliConfig): CiReport =
    ci(spark, cfg, base =>
      DemoProject.graph(cfg.slices, changed = cfg.changed, schema = base, vars = cfg.vars))

  /** `ci` over the graph `project` returns for the base schema. */
  private[graft] def ci(spark: SparkSession, cfg: CliConfig,
      project: String => ModelGraph): CiReport = {
    val wh = Warehouse(spark, cfg.warehouseRoot)
    val src = manifestSource(wh, cfg)
    val manifest = src.fetch().getOrElse(throw new CliError(
      s"no manifest at ${src.describe} - run `graft.Main run` first " +
        "(or point --manifest at a prod manifest.json)"))
    val base = manifest.baseSchema.getOrElse(cfg.schema)
    val graph = project(base)
    val copier = TableCopier(wh, cfg.threads)
    val sel = IncrementalCI.select(graph, manifest)
    val ciSchema = s"${base}_${cfg.suffix}"
    if (cfg.dryRun) return CiReport(sel,
      copier.copyAll(base, sel.cloneTargets, cfg.suffix, dryRun = true), Nil, Map.empty, ciSchema)

    val t0 = System.nanoTime()
    val ciGraph = ModelGraph(graph.models.map(m =>
      if (sel.closure.contains(m.name)) m.copy(schemaSuffix = Some(cfg.suffix))
      else m))
    val order = ciGraph.topoOrder.filter(sel.closure.contains)
    val resolve = deferResolve(graph, wh, sources(spark, cfg))
    val cut = IncrementalCI.cutoff(graph, ciGraph, order, manifest, Materializer(wh),
      resolve, cfg.fullRefresh, cfg.threads)
    val reusable = order.filter(n => cut.verdicts.get(n).exists(_.isRight))
    // clone targets and reused tables copy on one pool; a reused table
    // whose copy fails builds instead
    val (copies, reuseCopies) = copier
      .copyAll(base, sel.cloneTargets ++ reusable, cfg.suffix)
      .splitAt(sel.cloneTargets.size)
    val reused = reuseCopies.filter(_.status == "copied")
    val built = order.filterNot(reused.map(_.table).toSet)
    val secs = new java.util.concurrent.ConcurrentHashMap[String, Double]()
    val started = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val outcome = scala.util.Try(Runner(Materializer(wh, plans = cut.plans), resolve,
        cfg.fullRefresh, threads = cfg.threads,
        onModelStart = n => { started.add(n); () },
        onModelDone = (n, sec) => { secs.put(n, sec); () })
      .runSelected(ciGraph, built))
    val done = secs.asScala.toMap
    val persisted = order.filter(n => ciGraph.byName(n).materialization != Materialization.View)
    val counts = persisted.collect {
      case n if done.contains(n) => n -> wh.rowCount(ciGraph.byName(n).targetSchema, n)
    }.toMap ++ reused.map(c => c.table -> c.rows)
    def reason(n: String) = cut.verdicts.getOrElse(n, Left("not planned"))
    def copied(status: String)(c: CopyResult) =
      RunResults.Result(c.table, status, c.seconds, Some(c.rows), reason(c.table))
    RunResults.save(wh, "ci", (System.nanoTime() - t0) / 1e9,
      copies.filter(_.status == "copied").map(copied("cloned")) ++
        reused.map(copied("reused")) ++
        RunResults.ran(persisted, started.contains, done, counts, reason))
    outcome.get
    CiReport(sel, copies, built, counts, ciSchema, reused.map(_.table))
  }

  // ----------------------------------------------------------------

  /** `dbt ls`: selection without execution — the full --select
    * mini-language (or a named --selector from selectors.yml)
    * resolved against the demo DAG, nodes returned in topological
    * order. Pure driver-side name math (Selector's O(graph) claim);
    * no Spark job runs.
    */
  /** The models a named selector from selectors.yml selects. */
  private def namedSelection(cfg: CliConfig, graph: ModelGraph, name: String): Set[String] = {
    val path = cfg.selectorsYml.getOrElse("selectors.yml")
    val text = java.nio.file.Files.readString(java.nio.file.Paths.get(path))
    Selector.selectNamed(graph, Selector.parseSelectorsYaml(text), name)
  }

  def ls(cfg: CliConfig): Seq[(String, String, Seq[String])] = {
    val graph = DemoProject.graph(cfg.slices, schema = cfg.schema, vars = cfg.vars)
    val sel: Set[String] = (cfg.selector, cfg.select) match {
      case (Some(name), _) => namedSelection(cfg, graph, name)
      case (None, Some(spec)) => Selector.select(graph, spec)
      case (None, None) => graph.byName.keySet
    }
    graph.topoOrder.filter(sel).map { n =>
      val m = graph.byName(n)
      (n, m.materialization.toString, m.tags)
    }
  }

  def main(args: Array[String]): Unit = {
    val cfg = parse(args.toSeq) match {
      case Left(err) => System.err.println(err); sys.exit(2)
      case Right(c) => c
    }
    val spark = GraftSession(shufflePartitions = Some(32),
      master = sys.env.get("SPARK_GRAFT_MASTER"))
    if (cfg.verbose) spark.sparkContext.setLogLevel("INFO")
    val bar = "=" * 60
    try cfg.command match {
      case "run" if cfg.empty =>
        val rows = emptyValidate(spark, cfg)
        println(bar + "\nEMPTY RUN (schema validation)\n" + bar)
        rows.foreach { v =>
          println(f"  ${v.model}%-24s ${v.nCols}%3d cols  ${v.contractStatus}") }
        if (rows.exists(v =>
            v.contractStatus != "ok" && v.contractStatus != "no_contract")) {
          spark.stop(); sys.exit(1)
        }
      case "run" =>
        val r = run(spark, cfg)
        println(bar + "\nRUN SUMMARY\n" + bar)
        println(f"Models run: ${r.ran.size} in ${r.wallSec}%.1fs" +
          (if (cfg.threads > 1) s" (threads=${cfg.threads})" else ""))
        if (cfg.verbose) r.ran.foreach { n =>
          println(f"  - $n%-24s ${r.secs.getOrElse(n, 0.0)}%6.2fs") }
        r.counts.toSeq.sortBy(_._1).foreach { case (n, c) =>
          println(f"  $n%-24s $c%10d rows") }
      case "retry" =>
        val r = retry(spark, cfg)
        println(bar + "\nRETRY SUMMARY\n" + bar)
        println(s"Models skipped (journaled, unchanged): ${r.skipped.size}")
        if (cfg.verbose) r.skipped.foreach(n => println(s"  = $n"))
        println(s"Models run: ${r.ran.size}")
        r.counts.toSeq.sortBy(_._1).foreach { case (n, c) =>
          println(f"  $n%-24s $c%10d rows") }
      case "test" =>
        val r = test(spark, cfg)
        println(bar + "\nTEST SUMMARY\n" + bar)
        r.checks.foreach { case (n, v) =>
          println(f"  $n%-32s ${if (v == 0) "PASS" else s"FAIL ($v violations)"}") }
        r.stored.foreach(n => println(
          s"  stored failures: ${DataQuality.auditSchema}.$n"))
        if (r.failed) { spark.stop(); sys.exit(1) }
      case "unit" =>
        val rows = unit(spark, cfg)
        println(bar + "\nUNIT TEST SUMMARY\n" + bar)
        rows.foreach { case (cse, model, status, u, m) =>
          println(f"  $cse%-28s $model%-22s ${
            if (status == "pass") "PASS"
            else s"FAIL (unexpected=$u missing=$m)"}") }
        if (rows.exists(_._3 != "pass")) { spark.stop(); sys.exit(1) }
      case "clone" =>
        val rs = clone(spark, cfg)
        printCopySummary(bar, rs, cfg.dryRun)
        if (rs.exists(_.status.startsWith("error"))) { spark.stop(); sys.exit(1) }
      case "ci" =>
        val r = ci(spark, cfg)
        println(bar + (if (cfg.dryRun) "\nDRY RUN SUMMARY\n" else "\nCI SUMMARY\n") + bar)
        println(s"Modified nodes: ${r.selection.directlyModified.size}")
        println(s"state:modified+ closure: ${r.selection.closure.size}")
        println(s"Incremental/Snapshot nodes: ${r.selection.cloneTargets.size}")
        printCopySummary(bar, r.copies, cfg.dryRun)
        if (!cfg.dryRun) {
          println(s"CI models (${r.ciSchema}): " +
            s"${r.ran.count(r.ciCounts.contains)} built, ${r.reused.size} reused, " +
            s"${r.copies.count(_.status == "copied")} cloned")
          r.ciCounts.toSeq.sortBy(_._1).foreach { case (n, c) =>
            val how = if (r.reused.contains(n)) "reused" else "built"
            println(f"  $n%-24s $c%10d rows  $how") }
        }
        if (r.copies.exists(_.status.startsWith("error"))) { spark.stop(); sys.exit(1) }
      case "docs" =>
        val cat = docs(spark, cfg)
        println(bar + "\nDOCS CATALOG\n" + bar)
        cat.collect().foreach { r =>
          println(f"  ${r.getString(0)}%-22s ${r.getString(1)}%-16s ${r.getString(2)}%-14s " +
            f"rows=${r.getLong(3)}%-8d nulls=${r.getLong(4)}%-6d distinct=${r.getLong(5)}%d") }
        println("Saved artifact: catalog.json")
      case "ls" =>
        val nodes = ls(cfg)
        println(bar + s"\nLS (${nodes.size} nodes)\n" + bar)
        nodes.foreach { case (n, mat, tags) =>
          println(f"  $n%-28s $mat%-32s ${tags.mkString(",")}") }
      case "clean" =>
        val r = clean(spark, cfg)
        val would = if (cfg.dryRun) " (dry run: nothing deleted)" else ""
        println(bar + "\nCLEAN SUMMARY" + would + "\n" + bar)
        println(s"CI schemas ${if (cfg.dryRun) "that would drop" else "dropped"}: ${r.droppedSchemas.size}")
        r.droppedSchemas.foreach(s => println(s"  - $s"))
        println(s"Debris ${if (cfg.dryRun) "that would remove" else "removed"}: ${r.droppedDebris.size}")
        if (cfg.verbose) r.droppedDebris.foreach(d => println(s"  - $d"))
    } catch {
      case e: CliError =>
        System.err.println(e.getMessage); spark.stop(); sys.exit(2)
    } finally spark.stop()
  }

  /** `dbt docs generate`: profile the persisted tables of the last
    * run's schema (or --schema when no run artifact exists) and save
    * the catalog.json warehouse artifact. One aggregation pass per
    * table; the catalog is one row per column — metadata-sized.
    */
  def docs(spark: SparkSession, cfg: CliConfig): DataFrame = {
    val wh = Warehouse(spark, cfg.warehouseRoot)
    val schema = wh.loadArtifact(runSchemaArtifact).getOrElse(cfg.schema)
    if (wh.tables(schema).isEmpty)
      throw new CliError(s"no tables in schema '$schema' — run `graft.Main run` first")
    val cat = Docs.forSchema(wh, schema)
    wh.saveArtifact("catalog.json", Docs.toJson(cat))
    cat
  }

  private def printCopySummary(bar: String, rs: Seq[CopyResult],
      dryRun: Boolean): Unit = {
    if (dryRun) {
      println(s"Tables that would be copied: ${rs.count(_.status == "would_copy")}")
      rs.filter(_.status == "would_copy").foreach(r =>
        println(s"  - ${r.sourceSchema}.${r.table} -> ${r.targetSchema}.${r.table}" +
          (if (r.rows >= 0) s" (${r.rows} rows)" else "")))
    } else {
      println(s"Tables copied successfully: ${rs.count(_.status == "copied")}")
      val failed = rs.filterNot(_.status == "copied")
      if (failed.nonEmpty) {
        println(s"Tables failed: ${failed.size}")
        failed.foreach(r => println(s"  - ${r.table}: ${r.status}"))
      }
    }
  }
}
