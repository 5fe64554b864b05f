package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.ci.{IncrementalCI, TableCopier}
import graft.cli.DemoProject
import graft.core.{Hook, ManifestState, Materializer, Model, ModelCtx, ModelGraph, Runner,
  Warehouse}
import graft.sources.Catalog

/** The graft.Main CLI end-to-end: run -> test -> dry-run ci -> ci,
  * with the ci mart contents verified against an independent
  * recomputation of the defer semantics (changed slice from full
  * source, untouched slices from prod's cutoff state).
  */
class MainSpec extends SparkSpec {

  private val slices = 5 // 2*5+5 = 15 models; Main defaults to 19 -> 43
  private val cutoffDate = "1996-07-01"

  test("Main.parse: commands, options, and rejection of unknowns") {
    val cfg = Main.parse(Seq("ci", "--sf-dir", "/x", "--warehouse", "/w",
      "--threads", "4", "--slices", "7", "--changed", "a,b", "--dry-run",
      "--select", "state:modified+")).toOption.get
    assert(cfg.command == "ci" && cfg.sfDir == "/x" && cfg.warehouseRoot == "/w")
    assert(cfg.threads == 4 && cfg.slices == 7)
    assert(cfg.changed == Set("a", "b") && cfg.dryRun)
    assert(Main.parse(Seq("clean")).toOption.exists(_.command == "clean"))
    assert(Main.parse(Nil).isLeft)
    assert(Main.parse(Seq("frobnicate")).isLeft)
    assert(Main.parse(Seq("run", "--bogus")).isLeft)
    assert(Main.parse(Seq("ci", "--select", "tag:nightly")).isLeft)
  }

  test("run --empty: every model validates at zero rows in the CI schema; prod and manifest untouched") {
    val whRoot = graft.core.Scratch.dir("mainempty").toString
    val cfg = CliConfig(command = "run", sfDir = sfDir, warehouseRoot = whRoot,
      slices = slices, cutoff = Some(cutoffDate), empty = true)
    assert(Main.parse(Seq("run", "--empty")).toOption.exists(_.empty))
    val rows = Main.emptyValidate(spark, cfg)
    // the whole DAG ran: one validation row per model, all empty,
    // every schema non-degenerate (columns propagated without data)
    assert(rows.size == 2 * slices + 5)
    assert(rows.forall(_.nRows == 0L))
    assert(rows.forall(_.nCols > 0))
    assert(rows.forall(_.contractStatus == "no_contract"))
    val wh = Warehouse(spark, whRoot)
    // persisted models landed in the CI schema only — prod untouched,
    // and no manifest/journal artifact was written
    assert(wh.schemas.forall(_.endsWith("_ci")), wh.schemas)
    assert(ManifestState.load(wh).isEmpty)
  }

  test("Main docs: catalog over the last run's schema, artifact saved, empty warehouse rejected") {
    val whRoot = graft.core.Scratch.dir("maindocs").toString
    val cfg = CliConfig(command = "docs", sfDir = sfDir, warehouseRoot = whRoot,
      slices = slices, cutoff = Some(cutoffDate))
    // docs before any run: clear error, nothing written
    intercept[Main.CliError](Main.docs(spark, cfg))
    Main.run(spark, cfg.copy(command = "run"))
    val cat = Main.docs(spark, cfg).collect()
    val persisted = DemoProject.graph(slices).models
      .filter(_.materialization != graft.core.Materialization.View)
      .map(_.name).toSet
    assert(cat.map(_.getString(0)).toSet == persisted,
      "catalog must cover exactly the persisted relations")
    assert(cat.forall(_.getLong(3) > 0), "every demo table has rows")
    val wh = Warehouse(spark, whRoot)
    val js = wh.loadArtifact("catalog.json")
    assert(js.exists(_.startsWith("[")), "catalog.json artifact saved")
    assert(js.exists(_.contains("\"n_distinct\"")))
  }

  test("run --selector: named selector from selectors.yml equals its inline --select expansion") {
    val whRoot = graft.core.Scratch.dir("mainsel").toString
    val ymlPath = graft.core.Scratch.dir("selyml").resolve("selectors.yml")
    java.nio.file.Files.writeString(ymlPath,
      """selectors:
        |  - name: spend_world
        |    description: the spend subtree and all its ancestors
        |    definition: "+int_spend_all"
        |  - name: recent_only
        |    definition: "mart_recent_buyers"
        |""".stripMargin)
    // CLI wiring: --selector parses on run, is rejected elsewhere
    val parsed = Main.parse(Seq("run", "--selector", "spend_world",
      "--selectors-yml", ymlPath.toString)).toOption.get
    assert(parsed.selector.contains("spend_world") &&
      parsed.selectorsYml.contains(ymlPath.toString))
    assert(Main.parse(Seq("ci", "--selector", "x")).isLeft)

    val base = CliConfig(command = "run", sfDir = sfDir, warehouseRoot = whRoot,
      slices = slices, cutoff = Some(cutoffDate),
      selector = Some("spend_world"), selectorsYml = Some(ymlPath.toString))
    val rep = Main.run(spark, base)
    // the named selector's run set IS the inline expansion, topo-ordered
    val g = DemoProject.graph(slices)
    val inline = graft.core.Selector.select(g, "+int_spend_all")
    assert(rep.ran == g.topoOrder.filter(inline),
      s"named selector ran ${rep.ran}, inline expansion $inline")
    val wh = Warehouse(spark, whRoot)
    assert(wh.exists("analytics", "int_spend_all"))
    assert(!wh.exists("analytics", "mart_recent_buyers"),
      "unselected mart must not build")
    // fingerprints only for the tables this run built
    assert(ManifestState.load(wh).get.stamps.keySet ==
      rep.ran.filter(_.startsWith("int_spend")).toSet)

    // a later selector run of JUST the mart defers its ref to the
    // warehouse state the first selected run left behind
    val rep2 = Main.run(spark, base.copy(selector = Some("recent_only")))
    assert(rep2.ran == Seq("mart_recent_buyers"))
    assert(wh.exists("analytics", "mart_recent_buyers"))

    // unknown names fail loudly, not silently empty
    assertThrows[IllegalArgumentException] {
      Main.run(spark, base.copy(selector = Some("nope")))
    }
  }

  test("ls: selection without execution — inline spec, named selector, full graph") {
    val g = DemoProject.graph(slices)
    // full graph, topo order
    val all = Main.ls(CliConfig(command = "ls", slices = slices))
    assert(all.map(_._1) == g.topoOrder)
    // inline --select uses the FULL mini-language (not ci's
    // state:modified+ restriction)
    val cfg = Main.parse(Seq("ls", "--select", "+int_spend_all",
      "--slices", slices.toString)).toOption.get
    val sel = Main.ls(cfg)
    assert(sel.map(_._1) ==
      g.topoOrder.filter(graft.core.Selector.select(g, "+int_spend_all")))
    // named selector resolves identically
    val ymlPath = graft.core.Scratch.dir("lsyml").resolve("selectors.yml")
    java.nio.file.Files.writeString(ymlPath,
      "selectors:\n  - name: world\n    definition: \"+int_spend_all\"\n")
    val byName = Main.ls(cfg.copy(select = None, selector = Some("world"),
      selectorsYml = Some(ymlPath.toString)))
    assert(byName == sel)
    // --select rejected on run; --selector rejected on ci
    assert(Main.parse(Seq("run", "--select", "stg_*")).isLeft)
    assert(Main.parse(Seq("ci", "--selector", "world")).isLeft)
  }

  test("parseSelectorsYaml: comments, quotes, and malformed documents") {
    import graft.core.Selector
    val parsed = Selector.parseSelectorsYaml(
      """# project selectors
        |selectors:
        |  - name: a   # trailing comment
        |    definition: 'tag:x+'
        |  - name: b
        |    definition:
        |      union:
        |        - "m1"
        |        - m2   # unquoted items parse too
        |""".stripMargin)
    assert(parsed("a").definition == "tag:x+")
    assert(parsed("b").definition == "m1 m2")
    // duplicates, missing definition, stray items, bad root all fail loudly
    assertThrows[IllegalArgumentException] {
      Selector.parseSelectorsYaml(
        "selectors:\n  - name: a\n    definition: x\n  - name: a\n    definition: y\n")
    }
    assertThrows[IllegalArgumentException] {
      Selector.parseSelectorsYaml("selectors:\n  - name: a\n")
    }
    assertThrows[IllegalArgumentException] {
      Selector.parseSelectorsYaml("selectors:\n  - \"stray\"\n")
    }
    assertThrows[IllegalArgumentException] {
      Selector.parseSelectorsYaml("wrong:\n  - name: a\n")
    }
  }

  test("Main ci: manifest diff -> closure -> clone -> deferred run on the demo DAG") {
    val whRoot = graft.core.Scratch.dir("main").toString
    val base = CliConfig(command = "run", sfDir = sfDir, warehouseRoot = whRoot,
      slices = slices, cutoff = Some(cutoffDate))

    // ---- prod run on the cutoff state + persisted manifest
    val runRep = Main.run(spark, base)
    assert(runRep.ran.size == 2 * slices + 5)
    val wh = Warehouse(spark, whRoot)
    assert(ManifestState.load(wh).isDefined)
    assert(wh.exists("analytics", "mart_recent_buyers"))

    // ---- dbt test over the prod marts: all checks green
    val testRep = Main.test(spark, base.copy(command = "test"))
    assert(testRep.checks.nonEmpty && !testRep.failed,
      s"prod quality checks failed: ${testRep.checks.filter(_._2 > 0)}")

    // ---- dry-run ci: reports the would-copy set, builds nothing
    val changed = Set("stg_orders_3")
    val ciCfg = base.copy(command = "ci", cutoff = None, changed = changed)
    val dry = Main.ci(spark, ciCfg.copy(dryRun = true))
    assert(dry.copies.map(r => (r.table, r.status)) ==
      Seq("mart_recent_buyers" -> "would_copy"))
    assert(dry.ran.isEmpty && !wh.exists("analytics_ci", "mart_recent_buyers"))

    // ---- real ci: the closure is exactly the changed slice + downstream
    val rep = Main.ci(spark, ciCfg)
    assert(rep.selection.directlyModified == changed)
    assert(rep.selection.closure == Set("stg_orders_3", "int_spend_3",
      "int_spend_all", "mart_segment_spend", "mart_nation_spend",
      "mart_recent_buyers"))
    assert(rep.selection.cloneTargets == Seq("mart_recent_buyers"))
    assert(rep.copies.map(r => (r.table, r.status)) ==
      Seq("mart_recent_buyers" -> "copied"))
    assert(wh.tables("analytics_ci").toSet == Set("int_spend_3",
      "int_spend_all", "mart_segment_spend", "mart_nation_spend",
      "mart_recent_buyers"))

    // ---- row counts come from parquet footers: each equals count()
    assert(rep.ciCounts.keySet == wh.tables("analytics_ci").toSet)
    rep.ciCounts.foreach { case (t, n) =>
      assert(n == wh.read("analytics_ci", t).count(), s"ciCounts($t)")
    }
    (dry.copies ++ rep.copies).foreach { r =>
      assert(r.rows == wh.read("analytics", r.table).count(),
        s"${r.status} ${r.table}: rows must be the prod count")
    }

    // ---- defer semantics, verified independently: slice 3 rebuilt from
    // the FULL source, every other slice read from prod's cutoff state
    val c = Catalog(spark, sfDir)
    val cut = c.orders.filter(col("o_orderdate") < lit(cutoffDate).cast("timestamp"))
    def spend(df: DataFrame, i: Int): DataFrame =
      df.filter(pmod(col("o_orderkey"), lit(slices)) === lit(i))
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(DecimalType(14, 2))).as("spend"),
          max(col("o_orderdate")).as("last_order"))
    val expIntAll = (0 until slices)
      .map(i => spend(if (i == 3) c.orders else cut, i))
      .reduce(_ unionByName _)
      .groupBy("o_custkey")
      .agg(sum("n_orders").cast("long").as("n_orders"),
        sum("spend").as("spend"), max("last_order").as("last_order"))
    val expSeg = c.customer
      .join(expIntAll, col("c_custkey") === col("o_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_buyers"),
        sum("n_orders").cast("long").as("n_orders"), sum("spend").as("spend"))
      .orderBy("c_mktsegment")
    val gotSeg = wh.read("analytics_ci", "mart_segment_spend")
      .orderBy("c_mktsegment")
    assert(gotSeg.collect().map(_.toString).toSeq ==
      expSeg.collect().map(_.toString).toSeq)

    // ---- the incremental mart APPENDED onto its clone: prod rows kept,
    // plus exactly the ci rows past prod's max watermark
    val prodRecent = wh.read("analytics", "mart_recent_buyers")
    val prodMax = prodRecent.agg(max("last_order")).head.get(0)
    val ciIntAll = wh.read("analytics_ci", "int_spend_all")
    val expAppended = ciIntAll.filter(col("last_order") > lit(prodMax)).count()
    assert(expAppended > 0, "demo must exercise a non-empty append")
    assert(wh.read("analytics_ci", "mart_recent_buyers").count() ==
      prodRecent.count() + expAppended)

    // ---- dbt test over the ci marts too
    val ciTest = Main.test(spark, ciCfg.copy(command = "test", onSuffixed = true))
    assert(!ciTest.failed, s"ci quality checks failed: ${ciTest.checks.filter(_._2 > 0)}")

    // ---- ci with no edits: empty selection, nothing cloned or run
    val noop = Main.ci(spark, base.copy(command = "ci", cutoff = None))
    assert(noop.selection.directlyModified.isEmpty && noop.ran.isEmpty)
  }

  /** The bench harness's multiset fingerprint of a table: its row
    * count and the sum of an xxhash64 of every row.
    */
  private def multiset(w: Warehouse, schema: String, t: String): (Long, Any) =
    multiset(w.read(schema, t))

  private def multiset(df: DataFrame): (Long, Any) = {
    val r = df.select(count(lit(1)),
      sum(xxhash64(df.columns.sorted.toIndexedSeq.map(col): _*).cast(DecimalType(38, 0))))
      .head()
    (r.getLong(0), r.get(1))
  }

  /** run_results.json's status counts. */
  private def statuses(w: Warehouse): Map[String, Int] =
    """"status":"(\w+)"""".r.findAllMatchIn(w.loadArtifact("run_results.json").get)
      .map(_.group(1)).toSeq.groupBy(identity).map { case (k, v) => k -> v.size }

  test("ci early cutoff: comment-only edits reuse prod's tables, copied file by file") {
    val whRoot = graft.core.Scratch.dir("cutoff").toString
    val base = CliConfig(command = "run", sfDir = sfDir, warehouseRoot = whRoot,
      slices = 3, cutoff = Some(cutoffDate))
    Main.run(spark, base)
    val w = wh(whRoot)
    val tables = Seq("int_spend_0", "int_spend_1", "int_spend_2", "int_spend_all",
      "mart_segment_spend", "mart_nation_spend")
    assert(ManifestState.load(w).get.stamps.keySet == tables.toSet)
    assert(statuses(w) == Map("built" -> 7))
    assert(w.loadArtifact("run_results.json").get.contains(
      """"reason":"incremental: reads its own earlier table""""))

    // a comment on a Scala staging view: its four downstream tables are
    // reused, the incremental mart is cloned and built on its clone
    val rep = Main.ci(spark, base.copy(command = "ci", changed = Set("stg_orders_1")))
    assert(rep.reused == Seq("int_spend_1", "int_spend_all", "mart_nation_spend",
      "mart_segment_spend"))
    assert(rep.ran == Seq("stg_orders_1", "mart_recent_buyers"))
    assert(rep.copies.map(r => (r.table, r.status)) == Seq("mart_recent_buyers" -> "copied"))
    assert(rep.ciCounts.keySet == w.tables("analytics_ci").toSet &&
      rep.ciCounts.size == 5)
    for (t <- rep.ciCounts.keys) {
      assert(multiset(w, "analytics_ci", t) == multiset(w, "analytics", t), t)
      assert(rep.ciCounts(t) == w.read("analytics_ci", t).count(), t)
    }
    assert(statuses(w) == Map("built" -> 1, "reused" -> 4, "cloned" -> 1))

    // a comment on the SQL staging view reuses both marts over it
    Main.clean(spark, base.copy(command = "clean"))
    val sql = Main.ci(spark, base.copy(command = "ci", changed = Set("stg_customer")))
    assert(sql.reused == Seq("mart_nation_spend", "mart_segment_spend"))
    assert(sql.ran == Seq("stg_customer"))
    for (t <- sql.reused)
      assert(multiset(w, "analytics_ci", t) == multiset(w, "analytics", t), t)

    // --full-refresh reuses nothing; so does a manifest without stamps
    Main.clean(spark, base.copy(command = "clean"))
    assert(Main.ci(spark, base.copy(command = "ci", changed = Set("stg_customer"),
      fullRefresh = true)).reused.isEmpty)
    ManifestState.save(w, ManifestState.load(w).get.copy(stamps = Map.empty))
    val legacy = Main.ci(spark, base.copy(command = "ci", changed = Set("stg_orders_1")))
    assert(legacy.reused.isEmpty && legacy.ran.size == 6)
    assert(statuses(w) == Map("built" -> 5, "cloned" -> 1))
  }

  test("ci early cutoff fails closed: each case builds what a full rebuild writes") {
    import spark.implicits._
    // a source dir whose orders table is a directory a test can add a file to
    val src = graft.core.Scratch.dir("cutoff_src").toString
    for (t <- Seq("orders", "customer", "nation"))
      spark.read.parquet(s"$sfDir/$t.parquet").write.parquet(s"$src/$t.parquet")
    val same = udf((s: String) => s)
    val labels = Seq(("BUILDING", "b")).toDF("c_mktsegment", "label")
    def edit(name: String)(f: Model => Model)(g: ModelGraph) =
      ModelGraph(g.models.map(m => if (m.name == name) f(m) else m))
    val udfModel = edit("mart_segment_spend")(m => m.copy(transform =
      ctx => m.transform(ctx).withColumn("c_mktsegment", same(col("c_mktsegment"))))) _
    val localInput = edit("mart_segment_spend")(m => m.copy(transform =
      ctx => m.transform(ctx).join(labels, Seq("c_mktsegment"), "left"))) _
    val preHook = edit("mart_segment_spend")(m =>
      m.copy(preHooks = Seq(Hook("grant", "grant select", () => ())))) _

    /** Prod runs `project`, `perturb` changes the world, then CI runs:
      * `model` must build, exactly `reused` is reused, and every closure
      * table must equal what the same closure writes when rebuilt in
      * full.
      */
    def check(label: String, model: String, reused: Seq[String], changed: Set[String],
        project: ModelGraph => ModelGraph = identity,
        vars: Map[String, String] = Map.empty)(perturb: Warehouse => Unit): Unit = {
      val whRoot = graft.core.Scratch.dir(s"cutoff_$label").toString
      val base = CliConfig(command = "run", sfDir = src, warehouseRoot = whRoot,
        slices = 3, cutoff = Some(cutoffDate))
      val w = wh(whRoot)
      Main.run(spark, base, project(DemoProject.graph(3)))
      perturb(w)
      val ciCfg = base.copy(command = "ci", changed = changed, vars = vars)
      def graph(schema: String) =
        project(DemoProject.graph(3, changed = changed, schema = schema, vars = vars))
      val rep = Main.ci(spark, ciCfg, graph)
      assert(rep.ran.contains(model) && rep.reused == reused, s"$label: ${rep.reused}")
      // the full rebuild: clone targets copied, every closure model built
      val g = graph("analytics")
      val sel = IncrementalCI.select(g, ManifestState.load(w).get)
      TableCopier(w).copyAll("analytics", sel.cloneTargets, "full")
      val fullGraph = ModelGraph(g.models.map(m =>
        if (sel.closure(m.name)) m.copy(schemaSuffix = Some("full")) else m))
      Runner(Materializer(w), Main.deferResolve(g, w, Main.sources(spark, ciCfg)))
        .runSelected(fullGraph, fullGraph.topoOrder.filter(sel.closure))
      assert(rep.ciCounts.nonEmpty)
      for (t <- rep.ciCounts.keys)
        assert(multiset(w, "analytics_ci", t) == multiset(w, "analytics_full", t), s"$label: $t")
    }

    check("body", "mart_nation_spend", Nil, Set.empty, vars = Map("min_spend" -> "1"))(_ => ())
    check("source", "int_spend_1", Nil, Set("stg_orders_1")) { _ =>
      Catalog(spark, src).orders.limit(20).write.mode("append").parquet(s"$src/orders.parquet")
    }
    check("prod", "int_spend_1", Nil, Set("stg_orders_1")) { w =>
      w.overwriteStaged(w.read("analytics", "int_spend_1").filter(col("n_orders") > 1),
        "analytics", "int_spend_1")
    }
    // the other mart over the edited view is still reused
    val nation = Seq("mart_nation_spend")
    check("udf", "mart_segment_spend", nation, Set("stg_customer"), udfModel)(_ => ())
    check("local", "mart_segment_spend", nation, Set("stg_customer"), localInput)(_ => ())
    check("hook", "mart_segment_spend", nation, Set("stg_customer"), preHook)(_ => ())
  }

  test("ci early-cutoff walk in parallel: the reports and run_results of a walk alone") {
    val whRoot = graft.core.Scratch.dir("cutoff_par").toString
    val base = CliConfig(command = "run", sfDir = sfDir, warehouseRoot = whRoot,
      slices = 8, cutoff = Some(cutoffDate))
    Main.run(spark, base)
    val w = wh(whRoot)
    /** A check at `threads`: the report without copy timings, and
      * run_results.json without seconds.
      */
    def check(threads: Int, changed: Set[String],
        project: String => ModelGraph): (Main.CiReport, String) = {
      Main.clean(spark, base.copy(command = "clean"))
      val rep = Main.ci(spark, base.copy(command = "ci", changed = changed, threads = threads),
        project)
      val results = w.loadArtifact("run_results.json").get
      (rep.copy(copies = rep.copies.map(_.copy(seconds = 0.0))),
        results.replaceAll(""""(seconds|elapsed_s)":[0-9.]+""", ""))
    }
    for (i <- 0 until 8) {
      val changed = Set(s"stg_orders_$i")
      val project = (s: String) => DemoProject.graph(8, changed = changed, schema = s)
      val alone = check(1, changed, project)
      assert(alone._1.reused.size == 4 && alone._1.ran == Seq(s"stg_orders_$i",
        "mart_recent_buyers"), s"slice $i: ${alone._1}")
      assert(check(4, changed, project) == alone, s"slice $i")
    }

    // int_spend_1 really changes: it builds, and int_spend_all, whose
    // speculative plan read prod's int_spend_1, builds on the CI table
    val changed = Set("int_spend_1")
    val edited = (s: String) => {
      val g = DemoProject.graph(8, changed = changed, schema = s)
      ModelGraph(g.models.map(m =>
        if (m.name != "int_spend_1") m
        else m.copy(transform = ctx => m.transform(ctx).filter(col("n_orders") > 1))))
    }
    val alone = check(1, changed, edited)
    val (rep, results) = check(4, changed, edited)
    assert((rep, results) == alone)
    assert(rep.reused.isEmpty && rep.ran.toSet == Set("int_spend_1", "int_spend_all",
      "mart_segment_spend", "mart_nation_spend", "mart_recent_buyers"))
    val record = results.split("""\},\{""").find(_.contains(""""model":"int_spend_all""""))
    assert(record.exists(_.contains(""""reason":"input int_spend_1 builds in CI"""")), results)
    val onCi = edited("analytics").byName("int_spend_all").transform(new ModelCtx {
      def source(n: String): DataFrame = throw new IllegalArgumentException(n)
      def ref(n: String): DataFrame =
        w.read(if (n == "int_spend_1") "analytics_ci" else "analytics", n)
      def thisTable: Option[DataFrame] = None
    })
    val ciAll = multiset(w, "analytics_ci", "int_spend_all")
    assert(ciAll == multiset(onCi) && ciAll != multiset(w, "analytics", "int_spend_all"))
  }

  test("deferResolve resolves each name once when threads miss it together") {
    val calls = new java.util.concurrent.ConcurrentHashMap[String,
      java.util.concurrent.atomic.AtomicInteger]()
    val catalog = Catalog(spark, sfDir)
    val srcs: String => DataFrame = n => {
      calls.computeIfAbsent(n, _ => new java.util.concurrent.atomic.AtomicInteger)
        .incrementAndGet()
      Thread.sleep(100)
      catalog.table(n)
    }
    // stg_orders_0 is a view: it resolves orders through the same memo
    val resolve = Main.deferResolve(DemoProject.graph(1),
      wh(graft.core.Scratch.dir("defer_once").toString), srcs)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try (0 until 16).map(i => pool.submit(() =>
        resolve(Seq("orders", "stg_orders_0", "customer")(i % 3))))
      .foreach(_.get)
    finally pool.shutdown()
    assert(calls.asScala.map { case (k, v) => k -> v.get }.toMap ==
      Map("orders" -> 1, "customer" -> 1))
  }

  test("Main ci --vars: a rebound var is a body diff state:modified selects") {
    val whRoot = graft.core.Scratch.dir("main_vars").toString
    val base = CliConfig(command = "run", sfDir = sfDir,
      warehouseRoot = whRoot, slices = slices)
    Main.run(spark, base) // prod manifest built with the DEFAULT var
    // same graph, min_spend rebound: only the var-consuming SQL model
    // (and nothing upstream) is modified — dbt state:modified.vars
    val rep = Main.ci(spark, base.copy(command = "ci",
      vars = Map("min_spend" -> "1"), dryRun = true))
    assert(rep.selection.directlyModified == Set("mart_nation_spend"))
    assert(rep.selection.closure == Set("mart_nation_spend"))
    // parse wiring: k=v list → map; malformed entries rejected
    assert(Main.parse(Seq("ci", "--vars", "a=1,b=x y")).toOption.get.vars ==
      Map("a" -> "1", "b" -> "x y"))
    assert(Main.parse(Seq("ci", "--vars", "oops")).isLeft)
  }

  test("Main ci --manifest: out-of-band manifest file drives the same selection") {
    val whRoot = graft.core.Scratch.dir("main_mf").toString
    val base = CliConfig(command = "run", sfDir = sfDir, warehouseRoot = whRoot,
      slices = slices, cutoff = Some(cutoffDate))
    Main.run(spark, base)
    val wh = Warehouse(spark, whRoot)
    // export the persisted manifest to a standalone file (what a CI job
    // that fetched prod state out-of-band would have on disk), then
    // DELETE the warehouse artifact: ci must run purely off --manifest
    val exported = graft.core.Scratch.dir("main_mf_file").resolve("manifest.json")
    java.nio.file.Files.writeString(exported,
      ManifestState.load(wh).get.toJson)
    val artifact = new java.io.File(s"$whRoot/_artifacts/manifest.json")
    assert(artifact.delete(), "precondition: warehouse artifact removed")
    val changed = Set("stg_orders_3")
    val noManifest = base.copy(command = "ci", cutoff = None, changed = changed)
    intercept[Main.CliError](Main.ci(spark, noManifest.copy(dryRun = true)))
    val viaFile = Main.ci(spark, noManifest.copy(dryRun = true,
      manifestPath = Some(exported.toString)))
    assert(viaFile.selection.directlyModified == changed)
    assert(viaFile.selection.closure.size > changed.size)
    // parse wires the flag through
    val parsed = Main.parse(Seq("ci", "--manifest", "/x/manifest.json"))
    assert(parsed.exists(_.manifestPath.contains("/x/manifest.json")))
  }

  test("Main ci without a prod manifest fails with a clear error") {
    val whRoot = graft.core.Scratch.dir("nomanifest").toString
    // CliError specifically: main() turns it into stderr + exit(2), the
    // same clean path parse errors take (no uncaught stack trace)
    val e = intercept[Main.CliError] {
      Main.ci(spark, CliConfig(command = "ci", sfDir = sfDir,
        warehouseRoot = whRoot, slices = 3))
    }
    assert(e.getMessage.contains("manifest"))
  }

  test("Runner --threads: parallel run and ci produce marts identical to sequential") {
    def runBoth(threads: Int): (String, Warehouse) = {
      val whRoot = graft.core.Scratch.dir(s"par$threads").toString
      val base = CliConfig(command = "run", sfDir = sfDir, warehouseRoot = whRoot,
        slices = slices, cutoff = Some(cutoffDate), threads = threads)
      Main.run(spark, base)
      Main.ci(spark, base.copy(command = "ci", cutoff = None,
        changed = Set("stg_orders_1", "stg_orders_3")))
      (whRoot, wh(whRoot))
    }
    val (_, seqWh) = runBoth(1)
    val (_, parWh) = runBoth(4)
    for (schema <- Seq("analytics", "analytics_ci"); t <- seqWh.tables(schema)) {
      assert(parWh.tables(schema).contains(t), s"missing $schema.$t in parallel run")
      val s = seqWh.read(schema, t)
      val sortCols = s.columns.toSeq
      val a = s.orderBy(sortCols.map(col): _*).collect().map(_.toString).toSeq
      val b = parWh.read(schema, t).orderBy(sortCols.map(col): _*)
        .collect().map(_.toString).toSeq
      assert(a == b, s"$schema.$t differs between threads=1 and threads=4")
    }
  }

  test("custom base schema: run --schema, then test/clone/ci auto-detect it") {
    val whRoot = graft.core.Scratch.dir("schema").toString
    val base = CliConfig(command = "run", sfDir = sfDir, warehouseRoot = whRoot,
      slices = 3, cutoff = Some(cutoffDate), schema = "edu_wh")
    Main.run(spark, base)
    val w = wh(whRoot)
    assert(w.exists("edu_wh", "mart_segment_spend"))
    assert(!w.exists("analytics", "mart_segment_spend"))

    // test/clone/ci get NO --schema flag: they must detect edu_wh from
    // the persisted manifest (reference core.py:98-132 reads the base
    // schema off manifest.json rather than asking the caller)
    val detect = base.copy(schema = "analytics")
    val testRep = Main.test(spark, detect.copy(command = "test"))
    assert(testRep.checks.nonEmpty && !testRep.failed)
    val rs = Main.clone(spark, detect.copy(command = "clone", suffix = "pr9"))
    assert(rs.map(r => (r.table, r.targetSchema, r.status)) ==
      Seq(("mart_recent_buyers", "edu_wh_pr9", "copied")))
    val rep = Main.ci(spark, detect.copy(command = "ci", cutoff = None,
      changed = Set("stg_orders_0")))
    assert(rep.ciSchema == "edu_wh_ci")
    assert(w.exists("edu_wh_ci", "mart_segment_spend"))
    val ciTest = Main.test(spark,
      detect.copy(command = "test", onSuffixed = true))
    assert(!ciTest.failed)
  }

  test("Main clone: copies every incremental/snapshot model prod -> suffixed schema") {
    val whRoot = graft.core.Scratch.dir("clone").toString
    val base = CliConfig(command = "run", sfDir = sfDir, warehouseRoot = whRoot,
      slices = slices)
    Main.run(spark, base)
    val rs = Main.clone(spark, base.copy(command = "clone", suffix = "pr_7"))
    assert(rs.map(r => (r.table, r.targetSchema, r.status)) ==
      Seq(("mart_recent_buyers", "analytics_pr_7", "copied")))
    assert(wh(whRoot).read("analytics_pr_7", "mart_recent_buyers").count() ==
      wh(whRoot).read("analytics", "mart_recent_buyers").count())
  }

  test("Main clean: drops CI schemas + swap debris, heals half-swaps, prod intact") {
    val whRoot = graft.core.Scratch.dir("clean").toString
    val base = CliConfig(command = "run", sfDir = sfDir, warehouseRoot = whRoot,
      slices = 3, cutoff = Some(cutoffDate))
    Main.run(spark, base)
    Main.ci(spark, base.copy(command = "ci", cutoff = None,
      changed = Set("stg_orders_1")))
    val w = wh(whRoot)
    assert(w.schemas == Seq("analytics", "analytics_ci"))

    // plant the debris classes a crashed/abandoned run leaves behind
    val f = new org.apache.hadoop.fs.Path(whRoot)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def mk(rel: String) =
      f.mkdirs(new org.apache.hadoop.fs.Path(s"$whRoot/$rel"))
    mk("analytics/int_spend_all.__tmp")        // abandoned staged overwrite
    mk("analytics/mart_nation_spend.__ctmp")   // abandoned compaction staging
    mk("analytics/mart_segment_spend.__old")   // completed-swap leftover
    f.create(new org.apache.hadoop.fs.Path(
      s"$whRoot/_artifacts/manifest.json.__tmp"), true).close()
    // HALF-swap: live dir renamed aside, crash before staged moved in —
    // the backup is the only copy and must be healed, never deleted
    val prodRows = w.read("analytics", "mart_recent_buyers").count()
    require(f.rename(
      new org.apache.hadoop.fs.Path(s"$whRoot/analytics/mart_recent_buyers"),
      new org.apache.hadoop.fs.Path(s"$whRoot/analytics/mart_recent_buyers.__old")))

    val rep = Main.clean(spark, base.copy(command = "clean"))
    assert(rep.droppedSchemas == Seq("analytics_ci"))
    assert(rep.droppedDebris.toSet == Set(
      "analytics/int_spend_all.__tmp",
      "analytics/mart_nation_spend.__ctmp",
      "analytics/mart_segment_spend.__old",
      "_artifacts/manifest.json.__tmp"))

    // only prod schemas remain, no debris dirs, half-swap healed in place
    assert(w.schemas == Seq("analytics"))
    assert(f.listStatus(new org.apache.hadoop.fs.Path(s"$whRoot/analytics"))
      .map(_.getPath.getName).forall(n =>
        !n.contains(".__tmp") && !n.contains(".__ctmp") && !n.endsWith(".__old")))
    assert(w.read("analytics", "mart_recent_buyers").count() == prodRows)
    // prod marts still fully queryable after the sweep
    assert(!Main.test(spark, base.copy(command = "test")).failed)
  }

  test("Main unit: demo unit cases pass from mocks alone; unmocked inputs fail loudly") {
    val cfg = Main.parse(Seq("unit")).toOption.get
    val rows = Main.unit(spark, cfg)
    assert(rows.size >= 2 && rows.map(_._2).distinct.size >= 2,
      "unit cases should cover multiple demo models")
    assert(rows.forall(_._3 == "pass"), s"got $rows")
    // a case that references an input its mocks don't cover must fail
    // loudly, not silently read real data
    val underMocked = graft.core.UnitTester.UnitCase("bad", "mart_segment_spend",
      Map.empty, spark.range(1).toDF())
    assertThrows[Exception] {
      graft.core.UnitTester.run(DemoProject.graph(3), underMocked,
        n => throw new Main.CliError(s"unmocked '$n'"))
        .collect()
    }
  }

  test("Scratch: every scratch dir lives under the one swept session root") {
    // the shutdown hook removes Scratch.root recursively, so as long as
    // all scratch (specs, Verify warehouses, bench staging) nests under
    // it, repeated runs leave no net /tmp growth
    val d = graft.core.Scratch.dir("probe")
    assert(d.startsWith(graft.core.Scratch.root))
    val w = Warehouse.scratch(spark, "probe2")
    assert(java.nio.file.Paths.get(w.root).startsWith(graft.core.Scratch.root))
  }

  private def wh(root: String) = Warehouse(spark, root)

  test("clean: dry-run previews without deleting; base schema survives a suffix-name collision") {
    val whRoot = graft.core.Scratch.dir("mainclean").toString
    // a prod warehouse whose BASE schema itself ends `_ci` — the shape
    // a pattern-matching clean would irreversibly delete
    val cfg = CliConfig(command = "run", sfDir = sfDir, warehouseRoot = whRoot,
      slices = 3, schema = "prod_ci", cutoff = Some(cutoffDate))
    Main.run(spark, cfg)
    val w = wh(whRoot)
    assert(w.schemas.contains("prod_ci"))
    // a genuine CI clone schema plus staged-swap debris
    w.write(w.read("prod_ci", "mart_recent_buyers"), "prod_ci_ci", "mart_recent_buyers")
    w.write(w.read("prod_ci", "mart_recent_buyers"), "prod_ci_ci", "stale.__tmp")

    val dry = Main.clean(spark, cfg.copy(command = "clean", dryRun = true))
    assert(!dry.droppedSchemas.contains("prod_ci"), "base schema must never drop")
    assert(dry.droppedSchemas == Seq("prod_ci_ci"))
    assert(dry.droppedDebris.contains("prod_ci_ci/stale.__tmp"))
    // dry-run deleted nothing
    assert(w.schemas.contains("prod_ci_ci"))
    assert(w.tables("prod_ci").nonEmpty)

    val real = Main.clean(spark, cfg.copy(command = "clean"))
    assert(real.droppedSchemas == Seq("prod_ci_ci"))
    assert(w.schemas.contains("prod_ci") && !w.schemas.contains("prod_ci_ci"))
    assert(w.tables("prod_ci").nonEmpty, "prod tables must survive clean")
  }

  test("clone --jdbc-url: in-database CTAS clone against an external warehouse") {
    val url = s"jdbc:derby:${graft.core.Scratch.dir("mainjdbc")}/db;create=true"
    val jdbc = graft.sources.JdbcWarehouse(spark, url)
    // prod state in the DATABASE: the demo DAG's clone target
    jdbc.write(Catalog(spark, sfDir).orders
      .select("o_orderkey", "o_custkey"), "analytics", "mart_recent_buyers")
    val cfg = CliConfig(command = "clone", sfDir = sfDir,
      warehouseRoot = graft.core.Scratch.dir("mainjdbcwh").toString,
      slices = 3, jdbcUrl = Some(url))
    assert(Main.parse(Seq("clone", "--jdbc-url", url))
      .toOption.exists(_.jdbcUrl.contains(url)))

    val dry = Main.clone(spark, cfg.copy(dryRun = true))
    assert(dry.map(_.status) == Seq("would_copy"))
    assert(!jdbc.tableExists("analytics_ci", "mart_recent_buyers"))

    val rs = Main.clone(spark, cfg)
    assert(rs.map(r => (r.table, r.targetSchema, r.status)) ==
      Seq(("mart_recent_buyers", "analytics_ci", "copied")))
    assert(rs.head.rows > 0)
    assert(jdbc.count("analytics_ci", "mart_recent_buyers") == rs.head.rows)
  }

  test("hooks journal the same under run as under retry: a pre-hook fires once across a crash") {
    val whRoot = graft.core.Scratch.dir("mainhookretry").toString
    val cfg = CliConfig(command = "run", sfDir = sfDir, warehouseRoot = whRoot, slices = 3)
    var fires = 0
    @volatile var boom = true
    val graph = ModelGraph(Seq(Model("t", Seq("nation"), graft.core.Materialization.Table,
      ctx => { if (boom) sys.error("planted failure"); ctx.source("nation") },
      body = "t", preHooks = Seq(Hook("pre_grant", "grant-ish ddl", () => fires += 1)))))
    intercept[RuntimeException](Main.run(spark, cfg, graph))
    boom = false
    val w = wh(whRoot)
    val (ran, skipped) =
      graft.core.Retry.run(graph, Materializer(w), Main.sources(spark, cfg), w)
    assert(fires == 1, s"the pre-hook fired $fires times")
    assert(ran == Seq("t") && skipped == Seq("t.pre_grant"), s"$ran / $skipped")
  }

  test("run journals each model; retry skips journaled-and-unchanged models") {
    val whRoot = graft.core.Scratch.dir("mainretry").toString
    val cfg = CliConfig(command = "run", sfDir = sfDir, warehouseRoot = whRoot,
      slices = 3, cutoff = Some(cutoffDate))
    Main.run(spark, cfg)
    val w = wh(whRoot)
    // full success clears journal + intent; the run's target schema
    // persists (written at run START) so a bare `retry` after a crash
    // resumes the schema the crashed run was building
    assert(graft.core.Retry.loadJournal(w).isEmpty)
    assert(w.loadArtifact(Main.runSchemaArtifact).contains("analytics"))

    // simulate a run that died AFTER the last model but BEFORE the
    // journal cleared: every persisted model journaled and on disk —
    // retry must skip them all and re-run only the views
    val graph = DemoProject.graph(3, schema = "analytics")
    val persisted = graph.models
      .filter(_.materialization != graft.core.Materialization.View)
    graft.core.Retry.commit(w,
      persisted.map(m => m.name -> m.checksum).toMap)
    val rep = Main.retry(spark, cfg.copy(command = "retry"))
    assert(rep.skipped.toSet == persisted.map(_.name).toSet)
    assert(rep.ran.toSet == (graph.models.map(_.name).toSet -- persisted.map(_.name)))
    assert(graft.core.Retry.loadJournal(w).isEmpty, "journal clears on success")
    // retry stamps nothing it did not build: here, nothing at all
    assert(ManifestState.load(w).get.stamps.isEmpty)
  }
}
