package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ci.{IncrementalCI, TableCopier}
import graft.core._
import graft.queries.Engine

/** Materializer / Snapshot / Copier / graph semantics at sf0.001. */
class EngineSpec extends SparkSpec {

  private def freshWh(tag: String) = Warehouse.scratch(spark, tag)

  private def df(rows: Seq[(Long, String, Int)]) =
    spark.createDataFrame(rows).toDF("k", "v", "wm")

  test("m53: expire reference-counts — shared commits survive, exclusive ones sweep, orphans sweep, expired reads refuse") {
    import spark.implicits._
    val wh = freshWh("expire")
    def rows(v: Int) = TimeTravel.read(wh, "s", "t", v)
      .collect().map(_.toString).toSet
    TimeTravel.commit(wh, "s", "t", Seq((1L, "a")).toDF("k", "v"), "overwrite")
    TimeTravel.commit(wh, "s", "t", Seq((2L, "b")).toDF("k", "v"), "append")
    TimeTravel.commit(wh, "s", "t", Seq((3L, "c")).toDF("k", "v"), "append")
    val v3 = rows(3)
    // a crashed writer's residue: a commit dir no manifest references
    Seq((9L, "x")).toDF("k", "v").write.parquet(
      wh.path("s", "t") + "/_commits/c00099")

    // keepLast=2: v1's manifest drops, but its COMMIT survives — v2
    // and v3 still reference it (the append chain); the orphan sweeps
    val (dm1, dc1) = TimeTravel.expire(wh, "s", "t", keepLast = 2)
    assert((dm1, dc1) == (1, 1),
      s"expected 1 manifest + the orphan dir swept, got ($dm1, $dc1)")
    assert(rows(3) == v3, "shared files must survive the sweep bit-identically")
    assert(TimeTravel.history(wh, "s", "t").map(_.version) == Seq(2, 3))
    intercept[IllegalArgumentException] { rows(1) }

    // keepLast=1: v2's manifest drops; every commit is still shared
    // with v3, so zero data dirs sweep
    assert(TimeTravel.expire(wh, "s", "t", keepLast = 1) == (1, 0))
    assert(rows(3) == v3)

    // an overwrite orphans the whole old chain: the next sweep
    // reclaims all three old commits
    TimeTravel.commit(wh, "s", "t", Seq((4L, "d")).toDF("k", "v"), "overwrite")
    assert(TimeTravel.expire(wh, "s", "t", keepLast = 1) == (1, 3))
    assert(rows(4).nonEmpty)
  }

  test("expire orphan grace: a mid-flight commit's young dir survives the graced sweep; stale residue goes") {
    import spark.implicits._
    val wh = freshWh("grace")
    TimeTravel.commit(wh, "s", "t",
      Seq((1L, "a")).toDF("k", "v"), "overwrite")
    val commits = new org.apache.hadoop.fs.Path(wh.path("s", "t"), "_commits")
    val fs = commits.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // stale residue: a writer that crashed long ago
    val stale = new org.apache.hadoop.fs.Path(commits, "c00090")
    Seq((9L, "x")).toDF("k", "v").write.parquet(stale.toString)
    fs.setTimes(stale, System.currentTimeMillis() - 3600L * 1000, -1)
    // mid-flight: data written seconds ago, manifest rename pending
    val inflight = new org.apache.hadoop.fs.Path(commits, "c00091")
    Seq((8L, "y")).toDF("k", "v").write.parquet(inflight.toString)
    // a graced janitor sweeps only what is older than the window —
    // the racing writer's files survive to be committed
    val (_, dc) = TimeTravel.expire(wh, "s", "t", keepLast = 1,
      orphanGraceMs = 10L * 60 * 1000)
    assert(dc == 1, s"only the stale orphan should sweep, got $dc")
    assert(fs.exists(inflight), "a graced sweep must spare a young commit dir")
    assert(!fs.exists(stale))
    // grace 0 (the deterministic in-entry mode) sweeps it too
    assert(TimeTravel.expire(wh, "s", "t", keepLast = 1) == (0, 1))
    assert(!fs.exists(inflight))
  }

  test("m54 branches: isolation, at-ancestor creation, divergence refusal, tag immutability") {
    import spark.implicits._
    val wh = freshWh("branches")
    def rowsOf(name: String) = Branches.read(wh, "s", "t", name)
      .collect().map(_.toString).toSet
    TimeTravel.commit(wh, "s", "t", Seq((1L, "a")).toDF("k", "v"), "overwrite") // v1
    TimeTravel.commit(wh, "s", "t", Seq((2L, "b")).toDF("k", "v"), "append") // v2
    // dev branches at trunk head, takes an isolated commit
    Branches.create(wh, "s", "t", "dev")
    Branches.commitTo(wh, "s", "t", "dev",
      Seq((3L, "c")).toDF("k", "v"), "append") // v3, dev=[1,2,3]
    assert(rowsOf("main").size == 2, "main must not see dev's commit")
    assert(rowsOf("dev").size == 3)
    // branch at an ANCESTOR version: lineage is the prefix through it
    val hotfix = Branches.create(wh, "s", "t", "hotfix", at = 1)
    assert(hotfix.versions == Seq(1))
    assert(rowsOf("hotfix") == Set("[1,a]"))
    // a tag freezes dev's audit point and refuses every mutation
    Branches.create(wh, "s", "t", "rel", from = "dev", tag = true)
    intercept[IllegalArgumentException] {
      Branches.commitTo(wh, "s", "t", "rel",
        Seq((9L, "z")).toDF("k", "v"), "append")
    }
    intercept[IllegalArgumentException] {
      Branches.fastForward(wh, "s", "t", to = "rel", from = "dev")
    }
    // hotfix diverges (v4 on top of v1) — fast-forwarding main onto it
    // would lose v2, so the ancestry check refuses, in BOTH directions
    Branches.commitTo(wh, "s", "t", "hotfix",
      Seq((8L, "h")).toDF("k", "v"), "append") // v4, hotfix=[1,4]
    intercept[IllegalArgumentException] {
      Branches.fastForward(wh, "s", "t", to = "main", from = "hotfix")
    }
    intercept[IllegalArgumentException] {
      Branches.fastForward(wh, "s", "t", to = "hotfix", from = "dev")
    }
    // the publish: main fast-forwards to dev's head — pure ancestry,
    // one ref rename, reads become bit-identical
    val dev = rowsOf("dev")
    Branches.fastForward(wh, "s", "t", to = "main", from = "dev")
    assert(rowsOf("main") == dev)
    // a crashed FIRST save (tmp written, rename never happened) is no
    // ref: its dir holds no committed seq file, so listing skips it
    val ghost = new org.apache.hadoop.fs.Path(
      wh.path("s", "t"), "_refs/ghost/.r00001.json.__tmp")
    val fs = ghost.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(ghost, true)
    try out.write("{}".getBytes("UTF-8")) finally out.close()
    assert(Branches.list(wh, "s", "t").map(_.name) ==
      Seq("dev", "hotfix", "main", "rel"))
  }

  test("m54 branches: ref-protected expiry keeps every head servable; unreferenced versions sweep") {
    import spark.implicits._
    val wh = freshWh("brexpire")
    def rowsOf(name: String) = Branches.read(wh, "s", "t", name)
      .collect().map(_.toString).toSet
    TimeTravel.commit(wh, "s", "t", Seq((1L, "a")).toDF("k", "v"), "overwrite") // v1
    Branches.create(wh, "s", "t", "dev")
    Branches.commitTo(wh, "s", "t", "dev",
      Seq((2L, "b")).toDF("k", "v"), "append") // v2, dev=[1,2]
    // an OVERWRITE on main makes main=[1,3] — dev's v2 chain now
    // shares nothing with main's head beyond v1
    Branches.commitTo(wh, "s", "t", "main",
      Seq((7L, "m")).toDF("k", "v"), "overwrite") // v3, main=[1,3]
    // a crashed branch commit: manifest committed, ref never advanced
    // — the version exists but no ref references it
    TimeTravel.commitFrom(wh, "s", "t",
      Seq((9L, "x")).toDF("k", "v"), "append", 2) // v4, orphan
    val dev = rowsOf("dev")
    val main = rowsOf("main")
    assert(main == Set("[7,m]"), "overwrite must reset main's content")
    // keepLast=1 retains v4 by window; heads v2 (dev) and v3 (main)
    // survive ONLY through protection — and v1's manifest drops while
    // its commit survives (dev's head still references it)
    val (dm, dc) = Branches.expire(wh, "s", "t", keepLast = 1)
    assert(dm == 1, s"only v1's manifest should drop, got $dm")
    assert(dc == 0, "every commit is still referenced by a retained manifest")
    assert(rowsOf("dev") == dev, "a branch head must survive expiry bit-identically")
    assert(rowsOf("main") == main)
    intercept[IllegalArgumentException] {
      TimeTravel.read(wh, "s", "t", 1) // pre-retention trunk read refuses
    }
  }

  test("m55 column mapping: rename spans eras, drop+re-add never resurrects, pruning and refusals hold") {
    import spark.implicits._
    val wh = freshWh("colmap")
    val root = wh.path("s", "t")
    val t0 = ColumnMapping.create(
      Seq((1L, "a", 10), (2L, "b", 20)).toDF("k", "v", "x"), root)
    // rename is metadata-only and spans eras: the v1-era files still
    // store physical `x`, the logical read serves `score`
    val t1 = ColumnMapping.rename(t0, "x", "score")
    val t2 = ColumnMapping.append(t1,
      Seq((3L, "c", 30)).toDF("k", "v", "score"))
    val r2 = ColumnMapping.read(spark, t2).orderBy("k")
      .collect().map(_.toSeq).toSeq
    assert(r2 == Seq(Seq(1L, "a", 10), Seq(2L, "b", 20), Seq(3L, "c", 30)))
    // the field-id guarantee: DROP score, re-ADD a new `score` — the
    // old physical bytes must never serve the recycled name
    val t3 = ColumnMapping.addColumn(
      ColumnMapping.drop(t2, "score"), "score", "INT")
    val t4 = ColumnMapping.append(t3,
      Seq((4L, "d", 99)).toDF("k", "v", "score"))
    val r4 = ColumnMapping.read(spark, t4).orderBy("k").collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(2)) None else Some(r.getInt(2)))).toSeq
    assert(r4 == Seq((1L, None), (2L, None), (3L, None), (4L, Some(99))),
      "old physical bytes must NOT resurrect under the recycled name")
    // pruning: no era's scan reads the dropped physical columns — the
    // v1/v2 files hold `x`/`score` ints, but no ReadSchema mentions
    // them (only the post-add era's physical score is scanned)
    val plan = ColumnMapping.read(spark, t4)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("x:int"),
      s"dropped-era physical column leaked into a scan: ${plan.take(600)}")
    // refusals: rename onto a live name, drop of an unknown name
    intercept[IllegalArgumentException] {
      ColumnMapping.rename(t4, "v", "score")
    }
    intercept[IllegalArgumentException] { ColumnMapping.drop(t4, "ghost") }
  }

  test("m47: a lost CAS leaves history intact and its data dir as unreferenced residue") {
    import spark.implicits._
    val wh = freshWh("occ")
    val t0 = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    TimeTravel.commit(wh, "analytics", "t", t0, "overwrite") // v1
    val stale = Occ.snapshot(wh, "analytics", "t")
    assert(Occ.tryCommit(wh, "analytics", "t",
      t0.withColumn("v", lit("w1")), stale.version, "winner"))
    // the loser: same expected version, after the slot is gone
    assert(!Occ.tryCommit(wh, "analytics", "t",
      t0.withColumn("v", lit("l1")), stale.version, "loser"))
    // history names exactly the winner's commit; v2 reads the winner
    val snaps = TimeTravel.history(wh, "analytics", "t")
    assert(snaps.map(_.version) == Seq(1, 2))
    assert(snaps.last.commits == Seq("c00002_winner"))
    val v2 = TimeTravel.read(wh, "analytics", "t", 2)
      .select("v").distinct().collect().map(_.getString(0)).toSeq
    assert(v2 == Seq("w1"))
    // transact retry on the loser's behalf lands v3 on TOP of v2
    val v = Occ.transact(wh, "analytics", "t", "loser")(
      df => df.withColumn("v", concat(col("v"), lit("+l"))))
    assert(v == 3)
    val got = TimeTravel.read(wh, "analytics", "t", 3)
      .select("v").distinct().collect().map(_.getString(0)).toSeq
    assert(got == Seq("w1+l"), "the retry must build on the winner's state")
  }

  test("m46: run-operation rejects unknown macros, journals the ops artifact") {
    val wh = freshWh("runop")
    val macros = Jinja.parseMacros(
      "{% macro ping(n) %}SELECT {{ n }} AS answer{% endmacro %}")
    val e = intercept[IllegalArgumentException](
      RunOperation.run(wh, "analytics", macros, "nope", Map.empty, _ => null))
    assert(e.getMessage.contains("unknown macro"))
    assert(e.getMessage.contains("ping"), "error must list the known macros")
    val out = RunOperation.run(wh, "analytics", macros, "ping",
      Map("n" -> "42"), _ => null)
    assert(out.collect().map(_.getInt(0)).toSeq == Seq(42))
    // the artifact trail: the result persisted as op_<name>
    assert(wh.read("analytics", "op_ping").count() == 1)
    assert(out.schema.fieldNames.toSeq == Seq("answer"))
  }

  test("incremental append: empty target seeds, second batch appends only past watermark") {
    val wh = freshWh("append")
    val mat = Materializer(wh)
    val model = Model("t", Seq("src"),
      Materialization.Incremental(IncrementalStrategy.Append("wm")),
      ctx => ctx.source("src"))
    mat.run(model, _ => df(Seq((1L, "a", 1), (2L, "b", 2))))
    val out = mat.run(model,
      _ => df(Seq((1L, "a", 1), (2L, "x", 2), (3L, "c", 3), (4L, "d", 4))))
    // rows with wm <= 2 in batch2 are ignored (no dup, no update)
    assert(out.orderBy("k").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      == Seq(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "d"))
  }

  test("incremental append: all-null watermark target appends everything") {
    val wh = freshWh("appendnull")
    val mat = Materializer(wh)
    val model = Model("t", Seq("src"),
      Materialization.Incremental(IncrementalStrategy.Append("wm")),
      ctx => ctx.source("src"))
    val nullWm = spark.createDataFrame(Seq((1L, "a")))
      .toDF("k", "v").withColumn("wm", lit(null).cast(IntegerType))
    mat.run(model, _ => nullWm)
    val out = mat.run(model, _ => df(Seq((2L, "b", 2))))
    assert(out.count() == 2)
  }

  test("incremental merge: incoming wins per key, watermark breaks in-batch ties") {
    val wh = freshWh("merge")
    val mat = Materializer(wh)
    val model = Model("t", Seq("src"),
      Materialization.Incremental(
        IncrementalStrategy.Merge(Seq("k"), Some("wm"))),
      ctx => ctx.source("src"))
    mat.run(model, _ => df(Seq((1L, "old1", 1), (2L, "old2", 1))))
    // key 1 updated twice in one batch: wm=3 must win; key 3 is new
    val out = mat.run(model,
      _ => df(Seq((1L, "mid", 2), (1L, "new", 3), (3L, "three", 1))))
    assert(out.orderBy("k").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      == Seq(1L -> "new", 2L -> "old2", 3L -> "three"))
  }

  test("delete+insert: batch key multiplicity survives where merge would collapse it") {
    val wh = freshWh("delins")
    val mat = Materializer(wh)
    val model = Model("t", Seq("src"),
      Materialization.Incremental(
        IncrementalStrategy.DeleteInsert(Seq("k"))),
      ctx => ctx.source("src"))
    mat.run(model, _ => df(Seq((1L, "old1", 1), (2L, "old2", 1))))
    // key 1 re-delivered as TWO rows: both must land; key 2 untouched
    val out = mat.run(model,
      _ => df(Seq((1L, "a", 2), (1L, "b", 3), (3L, "three", 1))))
    assert(out.orderBy("k", "v").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
      == Seq(1L -> "a", 1L -> "b", 2L -> "old2", 3L -> "three"))
  }

  test("microbatch: lookback heals the boundary period, older periods untouched") {
    val wh = freshWh("microbatch")
    val mat = Materializer(wh)
    val model = Model("t", Seq("src"),
      Materialization.Incremental(
        IncrementalStrategy.Microbatch("p", lookback = 1)),
      ctx => ctx.source("src"))
    def d(s: String) = java.sql.Date.valueOf(s)
    def mdf(rows: Seq[(Long, java.sql.Date, Int)]) =
      spark.createDataFrame(rows).toDF("k", "p", "batch")
    mat.run(model, _ => mdf(Seq((1L, d("2024-01-01"), 1),
      (2L, d("2024-02-01"), 1), (3L, d("2024-03-01"), 1))))
    // run 2 offers every month: a rewritten Jan row sits OUTSIDE the
    // lookback window (newest=Mar, lookback 1 -> Feb onward) and must
    // be ignored; Feb is healed with a late arrival; Apr is new
    val out = mat.run(model, _ => mdf(Seq(
        (9L, d("2024-01-01"), 2),
        (2L, d("2024-02-01"), 2), (20L, d("2024-02-01"), 2),
        (3L, d("2024-03-01"), 2),
        (4L, d("2024-04-01"), 2))))
      .orderBy("k").collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[Int]("batch"))).toSeq
    assert(out == Seq((1L, 1), (2L, 2), (3L, 2), (4L, 2), (20L, 2)),
      s"got $out")
  }

  test("schema evolution: append_new_columns back-fills NULL, Fail raises") {
    val wh = freshWh("evolve")
    val mat = Materializer(wh)
    val model = Model("t", Seq("src"),
      Materialization.Incremental(IncrementalStrategy.Append("wm")),
      ctx => ctx.source("src"),
      onSchemaChange = OnSchemaChange.AppendNewColumns)
    mat.run(model, _ => df(Seq((1L, "a", 1))))
    val widened = df(Seq((2L, "b", 2))).withColumn("extra", lit("x"))
    val out = mat.run(model, _ => widened).orderBy("k").collect()
    assert(out.map(_.get(3)).toSeq == Seq(null, "x"))

    val failing = model.copy(name = "t2", onSchemaChange = OnSchemaChange.Fail)
    mat.run(failing, _ => df(Seq((1L, "a", 1))))
    intercept[IllegalArgumentException] {
      mat.run(failing, _ => widened)
    }
  }

  test("schema evolution: sync_all_columns drops removed columns and adds new ones") {
    val wh = freshWh("sync")
    val mat = Materializer(wh)
    val model = Model("t", Seq("src"),
      Materialization.Incremental(IncrementalStrategy.Append("wm")),
      ctx => ctx.source("src"),
      onSchemaChange = OnSchemaChange.SyncAllColumns)
    mat.run(model, _ => df(Seq((1L, "a", 1))))          // (k, v, wm)
    // batch 2: v gone, extra new — target syncs to (k, wm, extra)
    val reshaped = spark.createDataFrame(Seq((2L, 2, "x"))).toDF("k", "wm", "extra")
    val out = mat.run(model, _ => reshaped)
    assert(out.columns.toSeq == Seq("k", "wm", "extra"))
    val rows = out.orderBy("k").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    assert(rows.toSeq == Seq((1L, 1, null), (2L, 2, "x")))
  }

  test("full refresh drops the incremental target and rebuilds from the batch") {
    val wh = freshWh("refresh")
    val mat = Materializer(wh)
    val model = Model("t", Seq("src"),
      Materialization.Incremental(IncrementalStrategy.Append("wm")),
      ctx => ctx.source("src"))
    mat.run(model, _ => df(Seq((1L, "a", 1))))
    mat.run(model, _ => df(Seq((2L, "b", 2))))
    assert(wh.read("analytics", "t").count() == 2)
    val out = mat.run(model, _ => df(Seq((9L, "z", 9))), fullRefresh = true)
    assert(out.collect().map(_.getLong(0)).toSeq == Seq(9L))
  }

  test("snapshot SCD2: changed key closes old version, unchanged stays current") {
    val wh = freshWh("snap")
    val state1 = spark.createDataFrame(Seq((1L, "v1", 10), (2L, "w1", 10)))
      .toDF("k", "v", "updated")
    val state2 = spark.createDataFrame(Seq((1L, "v2", 20), (2L, "w1", 10), (3L, "n1", 20)))
      .toDF("k", "v", "updated")
    Snapshot.capture(wh, "s", "snap", state1, Seq("k"), "updated")
    Snapshot.capture(wh, "s", "snap", state2, Seq("k"), "updated")
    val rows = wh.read("s", "snap")
      .orderBy("k", "valid_from")
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getAs[Any]("valid_to") != null, r.getBoolean(r.fieldIndex("is_current"))))
    assert(rows.toSeq == Seq(
      (1L, "v1", true, false),   // closed out at updated=20
      (1L, "v2", false, true),   // new current version
      (2L, "w1", false, true),   // unchanged
      (3L, "n1", false, true)))  // new key
  }

  test("snapshot check strategy: value change opens a version, same value stays current") {
    val wh = freshWh("snapcheck")
    val s1 = spark.createDataFrame(Seq((1L, "a"), (2L, "b"))).toDF("k", "v")
    val s2 = spark.createDataFrame(Seq((1L, "a"), (2L, "c"), (3L, "d"))).toDF("k", "v")
    Snapshot.captureCheck(wh, "s", "t", s1, Seq("k"), Seq("v"), "2024-01-01 00:00:00")
    Snapshot.captureCheck(wh, "s", "t", s2, Seq("k"), Seq("v"), "2024-02-01 00:00:00")
    val rows = wh.read("s", "t").orderBy("k", "valid_from").collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getAs[Any]("valid_to") != null, r.getBoolean(r.fieldIndex("is_current"))))
    assert(rows.toSeq == Seq(
      (1L, "a", false, true),   // value unchanged: still current
      (2L, "b", true, false),   // closed at capture 2
      (2L, "c", false, true),
      (3L, "d", false, true)))  // new key
  }

  test("copier: suffix mapping, parallel copy, dry-run and missing source statuses") {
    val wh = freshWh("copier")
    wh.write(df(Seq((1L, "a", 1), (2L, "b", 2))), "prod", "t1")
    wh.write(df(Seq((3L, "c", 3))), "prod", "t2")
    val copier = TableCopier(wh, parallelism = 3)
    assert(copier.targetSchema("prod", "ci_42") == "prod_ci_42")

    val dry = copier.copyAll("prod", Seq("t1", "t2", "ghost"), "ci", dryRun = true)
    assert(dry.map(r => (r.table, r.status, r.rows)) ==
      Seq(("t1", "would_copy", 2L), ("t2", "would_copy", 1L), ("ghost", "missing_source", 0L)))
    assert(wh.tables("prod_ci").isEmpty)

    val real = copier.copyAll("prod", Seq("t1", "t2"), "ci")
    assert(real.forall(_.status == "copied"))
    assert(wh.tables("prod_ci") == Seq("t1", "t2"))
    assert(wh.read("prod_ci", "t1").count() == 2)
  }

  test("copier: a partitioned clone keeps its partitions under a CI insert_overwrite") {
    import spark.implicits._
    val wh = freshWh("partclone")
    val model = Model("events_by_yr", Seq("src"),
      Materialization.Incremental(IncrementalStrategy.InsertOverwrite(Seq("yr"))),
      _.source("src"))
    val prodRows = Seq((1L, "a", 2020), (2L, "b", 2021)).toDF("k", "v", "yr")
    Runner(Materializer(wh), Map("src" -> prodRows)).runSelected(
      ModelGraph(Seq(model)), Seq(model.name))
    val clone = TableCopier(wh).copyAll("analytics", Seq(model.name), "ci")
    assert(clone.map(c => (c.status, c.rows)) == Seq(("copied", 2L)))
    // the clone is file for file the prod table, partition dirs included
    assert(Fingerprint.dataVersion(spark, wh.path("analytics_ci", model.name)) ==
      Fingerprint.dataVersion(spark, wh.path("analytics", model.name)))
    // the CI incremental overwrites one new partition on top of the clone
    val ciModel = model.copy(schemaSuffix = Some("ci"))
    Runner(Materializer(wh), Map("src" -> Seq((3L, "c", 2022)).toDF("k", "v", "yr")))
      .runSelected(ModelGraph(Seq(ciModel)), Seq(model.name))
    assert(wh.read("analytics_ci", model.name).orderBy("k").as[(Long, String, Int)]
      .collect().toSeq == Seq((1L, "a", 2020), (2L, "b", 2021), (3L, "c", 2022)))
  }

  test("manifest fingerprint stamps round-trip; a legacy manifest parses with none") {
    val st = ManifestState(Map("a" -> ("0123abcd", Nil), "b" -> ("deadbeef", Seq("a"))),
      Map("a" -> "analytics", "b" -> "analytics"), Map("a" -> "c0ffee", "b" -> "beef"),
      Map("b" -> Fingerprint.Stamp("ab12" * 16, "cd34" * 16)))
    assert(st.toJson.contains(s""""fingerprint":"${"ab12" * 16}","data_version":"${"cd34" * 16}""""))
    assert(ManifestState.fromJson(st.toJson) == st)
    val legacy = """{"a":{"checksum":"0123abcd","deps":[],"schema":"analytics","config":"c0ffee"},""" +
      """"b":{"checksum":"deadbeef","deps":["a"],"schema":"analytics","config":"beef"}}"""
    assert(ManifestState.fromJson(legacy) == st.copy(stamps = Map.empty))
    assert(ManifestState.fromJson(st.copy(stamps = Map.empty).toJson) == st.copy(stamps = Map.empty))
    // a stamp the parser cannot read still fails the entry count check
    assert(intercept[IllegalArgumentException](ManifestState.fromJson(
      st.toJson.replace("\"data_version\"", "\"data_versoin\""))).getMessage.contains("mismatch"))
  }

  test("fingerprint: stable as exprIds advance; fails closed on UDFs, local data and hooks") {
    import spark.implicits._
    val wh = freshWh("fingerprint")
    wh.write(df(Seq((1L, "a", 1), (2L, "b", 2))), "prod", "t")
    def planned = wh.read("prod", "t").groupBy("v").agg(sum("wm").as("wm"))
    val m = Model("m", Seq("t"), Materialization.Table, _ => planned)
    val first = Fingerprint.of(m, planned)
    assert(first.isRight, first)
    (1 to 3).foreach(i => spark.range(i).selectExpr("id + 1 AS x").groupBy("x").count())
    assert(Fingerprint.of(m, planned) == first)
    // a body edit, a config edit and a new input file each change it
    assert(Fingerprint.of(m, planned.filter(col("wm") > 1)) != first)
    assert(Fingerprint.of(m.copy(tags = Seq("nightly")), planned) != first)
    wh.write(df(Seq((3L, "c", 3))), "prod", "t", mode = "append")
    assert(Fingerprint.of(m, planned).exists(_ != first.toOption.get))
    // what the plan's string cannot pin gets a reason, never a value
    val same = udf((s: String) => s)
    def reason(m: Model, d: org.apache.spark.sql.DataFrame) = Fingerprint.of(m, d).swap.toOption.get
    assert(reason(m, planned.select(same(col("v")))).startsWith("user-defined function"))
    assert(reason(m, planned.select(rand().as("r"))).startsWith("nondeterministic"))
    assert(reason(m, planned.join(Seq("a").toDF("v"), "v")).contains("LocalRelation"))
    assert(reason(m, planned.as[(String, Long)].map(identity).toDF()).startsWith("typed lambda"))
    assert(reason(m.copy(preHooks = Seq(Hook("grant", "grant", () => ()))), planned) ==
      "model has hooks")
    assert(reason(m.copy(materialization =
      Materialization.Incremental(IncrementalStrategy.Append("wm"))), planned).startsWith("incremental"))
  }

  test("retry: append model in the write-vs-journal crash window rebuilds instead of double-appending") {
    val wh = freshWh("retrywin")
    val mat = Materializer(wh)
    // a processing-stamped watermark: every invocation's rows are
    // "new" to the target, so a blind re-append would duplicate the
    // batch — the non-idempotent shape the intent record exists for
    var batch = 0
    val m = Model("inc", Seq("src"),
      Materialization.Incremental(IncrementalStrategy.Append("wm")),
      ctx => { batch += 1
        ctx.source("src").select(col("k"), col("v"), lit(batch).as("wm")) })
    val graph = ModelGraph(Seq(m))
    val srcs: String => org.apache.spark.sql.DataFrame =
      _ => df(Seq((1L, "a", 0), (2L, "b", 0)))

    // the crash: target written, journal never committed (intent
    // stands, journal empty — exactly the state a hard crash between
    // the table write and the journal commit leaves behind)
    mat.run(m, srcs, fullRefresh = false)
    assert(wh.read("analytics", "inc").count() == 2)
    Retry.commit(wh, Map.empty)
    Retry.commit(wh, Map("inc" -> m.checksum), Retry.intentArtifact)

    val (ran, skipped) = Retry.run(graph, mat, srcs, wh)
    assert(ran == Seq("inc") && skipped.isEmpty)
    // rebuilt, not double-appended: 2 rows, all from the retry batch
    val rows = wh.read("analytics", "inc").collect()
    assert(rows.length == 2, s"expected rebuild, got ${rows.length} rows")
    assert(rows.forall(_.getInt(2) == 2))

    // contrast: WITHOUT the intent record the same crash state
    // double-appends (the window the record closes)
    val wh2 = freshWh("retrywin2")
    val mat2 = Materializer(wh2)
    batch = 0
    mat2.run(m, srcs, fullRefresh = false)
    Retry.commit(wh2, Map.empty) // journal lost, no intent written
    Retry.run(graph, mat2, srcs, wh2)
    assert(wh2.read("analytics", "inc").count() == 4)

    // edited between crash and retry: intent matches by NAME, so a
    // checksum change (the fix-then-retry flow) still rebuilds
    val wh3 = freshWh("retrywin3")
    val mat3 = Materializer(wh3)
    batch = 0
    mat3.run(m, srcs, fullRefresh = false)
    Retry.commit(wh3, Map.empty)
    Retry.commit(wh3, Map("inc" -> ("0" * 32)), Retry.intentArtifact)
    Retry.run(graph, mat3, srcs, wh3)
    assert(wh3.read("analytics", "inc").count() == 2)

    // journaled-and-intent (the run COMPLETED the model before
    // crashing elsewhere): no crash window — the append target's
    // history must survive, the model re-runs as a plain incremental
    val wh4 = freshWh("retrywin4")
    val mat4 = Materializer(wh4)
    batch = 0
    mat4.run(m, srcs, fullRefresh = false) // batch 1 committed
    Retry.commit(wh4, Map("inc" -> "feed0000feed0000feed0000feed0000"))
    Retry.commit(wh4, Map("inc" -> m.checksum), Retry.intentArtifact)
    // journal checksum differs (edited model) -> re-runs, but NOT
    // ambiguous (journal has the name) -> append, not rebuild
    Retry.run(graph, mat4, srcs, wh4)
    assert(wh4.read("analytics", "inc").count() == 4,
      "journaled append model must keep its history on retry")
  }

  test("per-model hooks: retry skips completed hooks, edited model re-fires, post-hook crash window catches up") {
    val wh = freshWh("mhooks")
    val mat = Materializer(wh)
    val log = scala.collection.mutable.ArrayBuffer.empty[String]
    var fail = true
    var postFail = false
    def mkModel(body: String) = Model("t", Seq("src"), Materialization.Table,
      ctx => { log += "model"; if (fail) sys.error("boom"); ctx.source("src") },
      body = body,
      preHooks = Seq(Hook("pre_grant", "grant-ish ddl", () => log += "pre")),
      postHooks = Seq(Hook("post_audit", "audit row", () => {
        log += "post"; if (postFail) sys.error("post boom") })))
    val srcs: String => org.apache.spark.sql.DataFrame =
      _ => df(Seq((1L, "a", 0)))

    // crash IN the model: the pre-hook fired and journaled first
    intercept[Exception] {
      Retry.run(ModelGraph(Seq(mkModel("v1"))), mat, srcs, wh)
    }
    assert(log == Seq("pre", "model"))

    // retry, model unchanged: the journaled pre-hook is SKIPPED (its
    // side effect — the grant/DDL — already applied), model + post run
    fail = false; log.clear()
    val (ran, skipped) = Retry.run(ModelGraph(Seq(mkModel("v1"))), mat, srcs, wh)
    assert(log == Seq("model", "post"), s"got $log")
    assert(skipped.contains("t.pre_grant"))
    assert(ran.contains("t") && ran.contains("t.post_audit"))

    // edited between crash and retry: hook journal identity is bound
    // to the MODEL's checksum, so the completed pre-hook re-fires
    // with the re-run node (dbt re-executes the full node)
    fail = true; log.clear()
    intercept[Exception] {
      Retry.run(ModelGraph(Seq(mkModel("v2"))), mat, srcs, wh)
    }
    assert(log == Seq("pre", "model"))
    fail = false; log.clear()
    Retry.run(ModelGraph(Seq(mkModel("v3"))), mat, srcs, wh)
    assert(log == Seq("pre", "model", "post"),
      s"edited model must re-fire its journaled hooks, got $log")

    // crash BETWEEN the model's journal commit and its post-hook: the
    // retry skips the model but still fires the missing post-hook
    fail = false; postFail = true; log.clear()
    intercept[Exception] {
      Retry.run(ModelGraph(Seq(mkModel("v4"))), mat, srcs, wh)
    }
    assert(log == Seq("pre", "model", "post"))
    postFail = false; log.clear()
    val (ran2, skipped2) = Retry.run(ModelGraph(Seq(mkModel("v4"))), mat, srcs, wh)
    assert(log == Seq("post"),
      s"skipped model's un-journaled post-hook must catch up, got $log")
    assert(skipped2.contains("t") && ran2 == Seq("t.post_audit"))
  }

  test("jdbc warehouse: embedded clone with suffix mapping, dry-run, partitioned read-back, parquet landing") {
    val dbDir = graft.core.Scratch.dir("jdbcspec").toString + "/db"
    val jdbc = graft.sources.JdbcWarehouse(spark, s"jdbc:derby:$dbDir;create=true")
    assert(jdbc.dialect == "derby")
    assert(graft.sources.JdbcWarehouse(spark, "jdbc:postgresql://h/d").dialect == "postgresql")

    // prod state into the database: a base-schema table and a
    // custom-suffix-schema table (the reference's dbt custom schemas)
    jdbc.write(df(Seq((1L, "a", 1), (2L, "b", 2), (3L, "c", 3))), "edu_dbt", "students")
    jdbc.write(df(Seq((9L, "z", 9))), "edu_dbt_incremental_models", "enrollments")
    assert(jdbc.tableExists("edu_dbt", "students"))
    assert(!jdbc.tableExists("edu_dbt", "ghost"))

    // suffix semantics (reference copier.py:38-64): base schema maps
    // to the CI schema, a suffixed schema KEEPS its custom suffix
    val copier = graft.sources.JdbcCopier(jdbc, "ci_test", baseSchema = Some("edu_dbt"))
    assert(copier.targetSchema("edu_dbt") == "ci_test")
    assert(copier.targetSchema("edu_dbt_incremental_models") == "ci_test_incremental_models")
    assert(copier.targetSchema("unrelated") == "ci_test")

    // dry-run reports the statements that WOULD run, executes nothing
    val dry = copier.cloneAll("edu_dbt", Seq("students"), dryRun = true)
    assert(dry.map(_.status) == Seq("would_copy"))
    assert(dry.head.statements.exists(_.contains("ci_test.students")))
    assert(!jdbc.tableExists("ci_test", "students"))

    // real in-database clone, both schema shapes; re-clone is
    // idempotent (drop + recreate, the reference's overwrite)
    assert(copier.cloneAll("edu_dbt", Seq("students")).map(_.status) == Seq("copied"))
    assert(copier.cloneAll("edu_dbt_incremental_models", Seq("enrollments"))
      .map(_.status) == Seq("copied"))
    assert(copier.cloneAll("edu_dbt", Seq("students")).map(_.status) == Seq("copied"))

    // partitioned read-back: content identical to the source frame
    val back = jdbc.read("ci_test", "students",
      partitionColumn = Some("k"), numPartitions = 3)
    assert(back.rdd.getNumPartitions > 1, "partitioned jdbc scan expected")
    assert(back.collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((1L, "a"), (2L, "b"), (3L, "c")))
    assert(jdbc.read("ci_test_incremental_models", "enrollments").count() == 1)

    // landing path: jdbc -> parquet lake CI schema
    val wh = freshWh("jdbcland")
    val landed = copier.landToParquet(wh, "edu_dbt", "students",
      partitionColumn = Some("k"))
    assert(landed == 3 && wh.read("ci_test", "students").count() == 3)
  }

  test("state:modified+ closure and clone-target filter") {
    // graph built inside the m06 query; assert its final selection
    val out = Engine.m06.run(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getBoolean(1), r.getBoolean(2), r.getBoolean(3)))
      .toMap
    assert(out("stg_b") == ((true, true, false)))   // modified view: not clonable
    assert(out("int_ab") == ((false, true, true)))  // downstream incremental
    assert(out("snap_b") == ((false, true, true)))  // downstream snapshot
    assert(out("mart_all") == ((false, true, true)))
    assert(out("stg_a") == ((false, false, false)))
    assert(out("int_c") == ((false, false, false)))
  }

  test("staged swap: leftover .__tmp/.__old dirs are hidden and cleaned on re-run") {
    val wh = freshWh("leftover")
    wh.write(df(Seq((1L, "a", 1))), "s", "t")
    val fs = new org.apache.hadoop.fs.Path(wh.root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"${wh.root}/s/t.__tmp"))
    wh.write(df(Seq((9L, "stale", 9))), "s", "t.__old")
    assert(wh.tables("s") == Seq("t"), "staging dirs must never list")
    // a re-run converges: swap succeeds, leftovers gone
    wh.overwriteStaged(df(Seq((2L, "b", 2))), "s", "t")
    assert(wh.read("s", "t").collect().map(_.getLong(0)).toSeq == Seq(2L))
    assert(wh.tables("s") == Seq("t"))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"${wh.root}/s/t.__old")))
  }

  test("staged swap: crash between renames self-heals from .__old, snapshot keeps history") {
    val wh = freshWh("heal")
    val s1 = spark.createDataFrame(Seq((1L, "a", 10), (2L, "b", 10))).toDF("k", "v", "updated")
    val s2 = spark.createDataFrame(Seq((1L, "a2", 20), (2L, "b", 10))).toDF("k", "v", "updated")
    Snapshot.capture(wh, "s", "t", s1, Seq("k"), "updated")
    Snapshot.capture(wh, "s", "t", s2, Seq("k"), "updated")
    assert(wh.read("s", "t").count() == 3)
    // simulate dying between rename(target, .__old) and rename(.__tmp, target):
    // the table dir is GONE, the only copy of the data sits at .__old
    val fs = new org.apache.hadoop.fs.Path(wh.root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"${wh.root}/s/t"),
      new org.apache.hadoop.fs.Path(s"${wh.root}/s/t.__old")))
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"${wh.root}/s/t.__tmp"))
    // any access path heals: exists() restores the backup in place
    assert(wh.exists("s", "t"), "heal must restore the half-swapped table")
    assert(wh.read("s", "t").count() == 3)
    // and the next snapshot run sees the restored state — it must NOT
    // re-seed (which would silently discard the closed-out history row)
    Snapshot.capture(wh, "s", "t", s2, Seq("k"), "updated")
    val rows = wh.read("s", "t").orderBy("k", "valid_from").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getBoolean(r.fieldIndex("is_current"))))
    assert(rows.toSeq == Seq((1L, "a", false), (1L, "a2", true), (2L, "b", true)))
  }

  test("snapshot: NULL updated_at row is carried, then a real timestamp opens a new version") {
    val wh = freshWh("snapnull")
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("v", StringType), StructField("updated", IntegerType)))
    def state(rows: Seq[org.apache.spark.sql.Row]) =
      spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)
    import org.apache.spark.sql.Row
    val s1 = state(Seq(Row(1L, "v1", null), Row(2L, "w1", 10)))
    Snapshot.capture(wh, "s", "t", s1, Seq("k"), "updated")
    // re-capture of the identical state: the NULL-updated_at row must
    // be carried current, not dropped and not duplicated
    Snapshot.capture(wh, "s", "t", s1, Seq("k"), "updated")
    assert(wh.read("s", "t").filter(col("is_current")).count() == 2)
    // the key then gets a REAL updated_at: that IS a change — close the
    // NULL-stamped version, open the new one (a bare src > cur compare
    // would be NULL here and freeze the row forever)
    val s2 = state(Seq(Row(1L, "v2", 20), Row(2L, "w1", 10)))
    Snapshot.capture(wh, "s", "t", s2, Seq("k"), "updated")
    val k1 = wh.read("s", "t").filter(col("k") === 1L)
      .orderBy("is_current").collect()
      .map(r => (r.getString(1), r.getBoolean(r.fieldIndex("is_current"))))
    assert(k1.toSeq == Seq(("v1", false), ("v2", true)))
  }

  test("snapshot invalidate_hard_deletes closes absent keys in both strategies") {
    val wh = freshWh("harddel")
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val s1 = spark.createDataFrame(Seq(
      (1L, "a", ts("2024-01-01 00:00:00")), (2L, "b", ts("2024-01-01 00:00:00"))))
      .toDF("k", "v", "updated")
    val s2 = s1.filter(col("k") === 1L)
    // timestamp strategy: default keeps the absent key current...
    Snapshot.capture(wh, "s", "keep", s1, Seq("k"), "updated")
    Snapshot.capture(wh, "s", "keep", s2, Seq("k"), "updated")
    assert(wh.read("s", "keep").filter(col("k") === 2L && col("is_current")).count() == 1)
    // ...opt-in closes it out at the injected timestamp, no new version
    Snapshot.capture(wh, "s", "del", s1, Seq("k"), "updated")
    Snapshot.capture(wh, "s", "del", s2, Seq("k"), "updated",
      hardDeleteTs = Some("2024-02-01 00:00:00"))
    val gone = wh.read("s", "del").filter(col("k") === 2L).collect()
    assert(gone.length == 1 && !gone.head.getBoolean(gone.head.fieldIndex("is_current")))
    assert(gone.head.getAs[java.sql.Timestamp]("valid_to") == ts("2024-02-01 00:00:00"))
    // check strategy, same contract
    val c1 = spark.createDataFrame(Seq((1L, "a"), (2L, "b"))).toDF("k", "v")
    val c2 = c1.filter(col("k") === 1L)
    Snapshot.captureCheck(wh, "s", "chk", c1, Seq("k"), Seq("v"), "2024-01-01 00:00:00")
    Snapshot.captureCheck(wh, "s", "chk", c2, Seq("k"), Seq("v"), "2024-02-01 00:00:00",
      invalidateHardDeletes = true)
    val chk = wh.read("s", "chk").filter(col("k") === 2L).collect()
    assert(chk.length == 1 && !chk.head.getBoolean(chk.head.fieldIndex("is_current")))
  }

  test("manifest JSON round-trips names with quotes and backslashes") {
    val st = ManifestState(Map(
      "model \"quoted\"" -> ("0123abcd", Seq("dep\\one", "dep\"two")),
      "plain" -> ("deadbeef", Nil)))
    assert(ManifestState.fromJson(st.toJson) == st)
  }

  test("manifest persists as a warehouse artifact and loads back") {
    val wh = freshWh("manifest_art")
    assert(ManifestState.load(wh).isEmpty)
    val g = ModelGraph(Seq(
      Model("a", Nil, Materialization.View, _ => spark.emptyDataFrame, body = "x"),
      Model("b", Seq("a"), Materialization.Table, _ => spark.emptyDataFrame, body = "y")))
    ManifestState.save(wh, ManifestState.of(g))
    assert(ManifestState.load(wh).contains(ManifestState.of(g)))
    // a saved manifest from run N diffs cleanly against run N+1's graph
    val g2 = ModelGraph(g.models.map(m =>
      if (m.name == "b") m.copy(body = "y v2") else m))
    assert(ManifestState.load(wh).get.diff(g2) == Set("b"))
  }

  test("manifest sources are interchangeable: same state:modified+ selection") {
    def graphWith(bodyB: String) = ModelGraph(Seq(
      Model("a", Nil, Materialization.View, _ => spark.emptyDataFrame, body = "x"),
      Model("b", Seq("a"),
        Materialization.Incremental(IncrementalStrategy.Append("ts")),
        _ => spark.emptyDataFrame, body = bodyB),
      Model("c", Seq("b"), Materialization.Table,
        _ => spark.emptyDataFrame, body = "z")))
    val prodState = ManifestState.of(graphWith("y"))
    val current = graphWith("y v2")
    // the same prod state through all three acquisition paths: the
    // warehouse artifact a run persisted, an out-of-band manifest
    // file (dbt's --state / a downloaded dbt-Cloud artifact), and an
    // in-memory handoff
    val wh = freshWh("manifest_src")
    ManifestState.save(wh, prodState)
    val file = graft.core.Scratch.dir("manifest_src").resolve("manifest.json")
    java.nio.file.Files.writeString(file, prodState.toJson)
    // the dbt-Cloud HTTP path against a loopback stub: run listing ->
    // latest SUCCESSFUL run -> manifest artifact, all four acquisition
    // paths must produce the identical selection
    withDbtCloudStub(prodState.toJson) { (baseUrl, seenAuth) =>
      val sources: Seq[ManifestSource] = Seq(
        ManifestSource.WarehouseArtifact(wh),
        ManifestSource.FilePath(file.toString),
        ManifestSource.Static(prodState),
        ManifestSource.Http(baseUrl, "tok-123", "7", "99"))
      val selections = sources.map(s =>
        graft.ci.IncrementalCI.select(current, s.fetch().get))
      assert(selections.distinct.size == 1,
        s"sources disagreed: ${sources.map(_.describe).zip(selections)}")
      assert(selections.head.directlyModified == Set("b"))
      assert(selections.head.closure == Set("b", "c"))
      // the reference's Token auth header rode every request
      assert(seenAuth().nonEmpty && seenAuth().forall(_ == "Token tok-123"),
        s"auth headers seen: ${seenAuth()}")
    }
    // no prior state at the path reads as "no manifest", not an error
    assert(ManifestSource.FilePath(s"$file.missing").fetch().isEmpty)
  }

  /** Loopback dbt-Cloud API stub (zero egress): newest-first run
    * listing where the NEWEST run failed (status 20) and the next
    * succeeded (status 10, id 42) — selecting any other run serves a
    * 404 — plus run 42's manifest artifact. Collects Authorization
    * headers for the caller to assert on.
    */
  private def withDbtCloudStub(manifestJson: String)(
      body: (String, () => Seq[String]) => Unit): Unit = {
    val seen = scala.collection.mutable.ArrayBuffer.empty[String]
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    def respond(ex: com.sun.net.httpserver.HttpExchange, status: Int,
        bodyStr: String): Unit = {
      val b = bodyStr.getBytes("UTF-8")
      ex.sendResponseHeaders(status, b.length)
      ex.getResponseBody.write(b)
      ex.close()
    }
    server.createContext("/api/v2/", ex => {
      seen.synchronized {
        seen += Option(ex.getRequestHeaders.getFirst("Authorization")).orNull
      }
      val path = ex.getRequestURI.getPath
      if (path == "/api/v2/accounts/7/runs/")
        respond(ex, 200,
          """{"data":[{"id":43,"status":20,"finished_at":"t2"},
            |{"id":42,"status":10,"finished_at":"t1"},
            |{"id":41,"status":10,"finished_at":"t0"}]}""".stripMargin)
      else if (path == "/api/v2/accounts/7/runs/42/artifacts/manifest.json")
        respond(ex, 200, manifestJson)
      else respond(ex, 404, """{"error":"not found"}""")
    })
    server.start()
    try body(s"http://127.0.0.1:${server.getAddress.getPort}/api/v2",
      () => seen.synchronized(seen.toSeq))
    finally server.stop(0)
  }

  test("HTTP manifest source: explicit run override, no-success and non-2xx failures") {
    val g = ModelGraph(Seq(
      Model("a", Nil, Materialization.View, _ => spark.emptyDataFrame, body = "x")))
    val state = ManifestState.of(g)
    withDbtCloudStub(state.toJson) { (baseUrl, _) =>
      // explicit runId skips the listing (the reference's override arg)
      assert(ManifestSource.Http(baseUrl, "t", "7", "99", runId = Some("42"))
        .fetch().contains(state))
      // an override pointing at a run with no artifact fails hard
      // (raise_for_status), never a silent empty diff
      intercept[java.io.IOException] {
        ManifestSource.Http(baseUrl, "t", "7", "99", runId = Some("40")).fetch()
      }
      // wrong account: listing itself 404s
      intercept[java.io.IOException] {
        ManifestSource.Http(baseUrl, "t", "8", "99").fetch()
      }
    }
    // a listing with runs but NO successful one mirrors the
    // reference's ValueError
    val failing = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    failing.createContext("/api/v2/", ex => {
      val b = """{"data":[{"id":5,"status":20,"finished_at":"t"}]}""".getBytes("UTF-8")
      ex.sendResponseHeaders(200, b.length)
      ex.getResponseBody.write(b)
      ex.close()
    })
    failing.start()
    try intercept[IllegalStateException] {
      ManifestSource.Http(
        s"http://127.0.0.1:${failing.getAddress.getPort}/api/v2",
        "t", "7", "99").fetch()
    } finally failing.stop(0)
  }

  test("bench harness records per-query errors instead of swallowing them") {
    val qs = Map[String, (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame](
      "ok" -> ((s, _) => s.range(5).toDF()),
      "boom" -> ((_, _) => throw new RuntimeException("deliberately broken query")))
    val res = Bench.runAll(spark, sfDir, qs).map(r => r._1 -> r._3).toMap
    assert(res("ok").isEmpty)
    assert(res("boom").exists(_.contains("deliberately broken")))
  }

  test("manifest round-trips through JSON") {
    val g = ModelGraph(Seq(
      Model("a", Nil, Materialization.View, _ => spark.emptyDataFrame, body = "x"),
      Model("b", Seq("a"), Materialization.Table, _ => spark.emptyDataFrame, body = "y")))
    val st = ManifestState.of(g)
    assert(ManifestState.fromJson(st.toJson) == st)
    assert(st.diff(g).isEmpty)
  }

  test("DAG runner materializes in topological order with lazy views") {
    val wh = freshWh("dag")
    val sources: String => org.apache.spark.sql.DataFrame =
      _ => df(Seq((1L, "a", 1), (2L, "b", 2), (3L, "c", 3)))
    val graph = ModelGraph(Seq(
      Model("stg", Seq("raw"), Materialization.View,
        ctx => ctx.source("raw").filter(col("wm") >= 2)),
      Model("mart", Seq("stg"), Materialization.Table,
        ctx => ctx.ref("stg").agg(count(lit(1)).as("n"), max(col("wm")).as("mx")))))
    val outs = Runner(Materializer(wh), sources).runAll(graph)
    val r = outs("mart").collect().head
    assert((r.getLong(0), r.getInt(1)) == ((2L, 3)))
    assert(wh.exists("analytics", "mart") && !wh.exists("analytics", "stg"))
  }

  test("merge with incremental_predicates: outside-predicate rows untouched, NULL rows untouched, inside rows merged") {
    val wh = freshWh("pred_merge")
    val mat = Materializer(wh)
    val model = Model("t", Seq("src"),
      Materialization.Incremental(IncrementalStrategy.Merge(
        Seq("k"), Some("wm"), predicate = Some(col("wm") >= 2))),
      ctx => ctx.source("src"))
    def nwm(k: Long, v: String) = // NULL-watermark row: predicate is NULL
      spark.createDataFrame(Seq((k, v))).toDF("k", "v")
        .withColumn("wm", lit(null).cast(IntegerType))
    mat.run(model, _ => df(Seq((1L, "lo", 1), (2L, "hi", 2), (3L, "hi", 3)))
      .unionByName(nwm(4L, "nul")))
    // batch 2 updates keys 1 (outside predicate!), 3 (inside), 4 (NULL)
    val out = mat.run(model,
      _ => df(Seq((1L, "new1", 9), (3L, "new3", 9))).unionByName(
        spark.createDataFrame(Seq((4L, "new4", 9))).toDF("k", "v", "wm")))
      .orderBy("k", "v").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(out == Seq(
      1L -> "lo",   // untouched: predicate excluded it from the scan...
      1L -> "new1", // ...so the incoming row merge-INSERTS (dbt's footgun)
      2L -> "hi",   // inside predicate, no incoming match: survives
      3L -> "new3", // inside predicate, matched: replaced
      4L -> "new4", 4L -> "nul"), // NULL predicate = not matched = untouched
      s"incremental_predicates semantics drifted: $out")
  }

  test("partition-scoped merge rewrites only touched partitions, untouched files identical") {
    val wh = freshWh("part_merge")
    val mat = Materializer(wh)
    val model = Model("t", Seq("src"),
      Materialization.Incremental(IncrementalStrategy.Merge(
        Seq("k"), Some("wm"), partitionBy = Seq("yr"))),
      ctx => ctx.source("src"))
    def rows(data: Seq[(Long, String, Int, Int)]) =
      spark.createDataFrame(data).toDF("k", "v", "wm", "yr")
    mat.run(model, _ => rows(Seq(
      (1L, "a95", 1, 1995), (2L, "b95", 1, 1995),
      (3L, "a96", 1, 1996), (4L, "a97", 1, 1997), (5L, "b97", 1, 1997))))

    def files(yr: Int): Set[String] = {
      val dir = java.nio.file.Paths.get(wh.path("analytics", "t"), s"yr=$yr")
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.list(dir).iterator().asScala
        .map(p => p.getFileName.toString + ":" +
          java.nio.file.Files.getLastModifiedTime(p).toMillis)
        .filterNot(_.startsWith(".")).toSet
    }
    val before95 = files(1995)
    val before97 = files(1997)

    // batch 2 touches ONLY 1997: k=4 updated, k=6 new
    mat.run(model, _ => rows(Seq((4L, "a97v2", 2, 1997), (6L, "c97", 2, 1997))))

    assert(files(1995) == before95,
      "untouched partition was rewritten — pruning failed")
    assert(files(1997) != before97, "touched partition must be rewritten")
    val got = wh.read("analytics", "t").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    assert(got == Set((1L, "a95", 1), (2L, "b95", 1), (3L, "a96", 1),
      (4L, "a97v2", 2), (5L, "b97", 1), (6L, "c97", 2)))
  }

  test("compaction: fragmented partitions merge to the target count, content identical, compact ones skipped") {
    val wh = freshWh("compact")
    val src = spark.range(0, 2000)
      .select(col("id").as("k"), (col("id") % 4).cast("int").as("yr"),
        (col("id") * 3 % 97).as("v"))
    // 8 files per partition — the micro-batch-per-file ingest shape
    wh.write(src.repartition(8), "analytics", "t", partitionBy = Seq("yr"))
    def snapshot(): Set[(Long, Int, Long)] =
      wh.read("analytics", "t").select("k", "yr", "v").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val before = snapshot()

    val stats = Compaction.compact(wh, "analytics", "t",
      nPartCols = 1, targetBytes = 512L * 1024 * 1024)
    assert(stats.size == 4)
    assert(stats.forall(s => s.filesBefore == 8 && s.filesAfter == 1),
      s"expected 8 -> 1 per partition, got $stats")
    val after = snapshot()
    assert(after == before, "compaction must be a pure layout change")

    // second pass: every partition already compact -> skipped unread,
    // files untouched (same name+mtime)
    def files(yr: Int): Set[String] = {
      val dir = java.nio.file.Paths.get(wh.path("analytics", "t"), s"yr=$yr")
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.list(dir).iterator().asScala
        .map(p => p.getFileName.toString + ":" +
          java.nio.file.Files.getLastModifiedTime(p).toMillis)
        .filterNot(_.startsWith(".")).toSet
    }
    val snap = (0 until 4).map(files)
    val stats2 = Compaction.compact(wh, "analytics", "t",
      nPartCols = 1, targetBytes = 512L * 1024 * 1024)
    assert(stats2.forall(s => s.filesBefore == 1 && s.filesAfter == 1))
    assert((0 until 4).map(files) == snap,
      "already-compact partitions must not be rewritten")

    // crash between the two swap renames: the live dir is gone and
    // only the HIDDEN dot-prefixed backup remains — invisible to
    // Spark discovery (no string-widened ghost partition), restored
    // by the next writer's heal pass
    val root = java.nio.file.Paths.get(wh.path("analytics", "t"))
    java.nio.file.Files.move(root.resolve("yr=2"), root.resolve(".yr=2.__old"))
    assert(!wh.read("analytics", "t").columns.isEmpty)
    assert(wh.read("analytics", "t").filter(col("yr") === 2).count() == 0,
      "hidden backup must be invisible to partition discovery")
    val stats3 = Compaction.compact(wh, "analytics", "t",
      nPartCols = 1, targetBytes = 512L * 1024 * 1024)
    assert(stats3.size == 4, "healed partition must be enumerated again")
    assert(wh.read("analytics", "t").select("k", "yr", "v").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet == before,
      "heal must restore the crashed partition's data")
  }

  test("format roundtrip: ORC/JSON/CSV read-back is row-identical to the source") {
    val wh = freshWh("fmt")
    val src = spark.range(0, 500)
      .select(col("id").as("k"),
        concat(lit("v"), col("id")).as("v"),
        (col("id") % 97).cast("double").as("x"),
        to_date(lit("2024-01-01")).as("d"))
    val root = wh.path("analytics", "t")
    src.write.mode("overwrite").orc(s"$root/orc")
    src.write.mode("overwrite").json(s"$root/json")
    src.write.mode("overwrite").option("header", "true").csv(s"$root/csv")
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, String, Double, java.sql.Date)] =
      df.collect().map(r =>
        (r.getLong(0), r.getString(1), r.getDouble(2), r.getDate(3))).toSet
    val expected = rows(src)
    assert(rows(spark.read.orc(s"$root/orc")) == expected)
    assert(rows(spark.read.schema(src.schema).json(s"$root/json")) == expected)
    assert(rows(spark.read.schema(src.schema)
      .option("header", "true").csv(s"$root/csv")) == expected)
  }

  test("parallel DAG runner: a failing model propagates without hanging, siblings complete") {
    val wh = freshWh("dag_par_fail")
    val sources: String => org.apache.spark.sql.DataFrame =
      _ => df(Seq((1L, "a", 1), (2L, "b", 2)))
    val graph = ModelGraph(Seq(
      Model("ok_branch", Seq("raw"), Materialization.Table,
        ctx => ctx.source("raw")),
      Model("boom", Seq("raw"), Materialization.Table,
        _ => throw new RuntimeException("deliberate model failure")),
      Model("downstream", Seq("boom"), Materialization.Table,
        ctx => ctx.ref("boom"))))
    val e = intercept[RuntimeException] {
      Runner(Materializer(wh), sources, threads = 3).runAll(graph)
    }
    assert(e.getMessage.contains("deliberate model failure"))
    // the independent branch still materialized; the failed subtree did not
    assert(wh.exists("analytics", "ok_branch"))
    assert(!wh.exists("analytics", "downstream"))
  }

  test("retry: completed upstream skipped, edited model re-runs, journal clears on success") {
    val wh = freshWh("retry")
    val mat = Materializer(wh)
    val src = df(Seq((1L, "a", 1), (2L, "b", 2)))
    val invocations =
      scala.collection.mutable.Map[String, Int]().withDefaultValue(0)
    @volatile var boom = true
    def graph(bodyA: String) = ModelGraph(Seq(
      Model("a", Nil, Materialization.Table,
        _ => { invocations("a") += 1; src }, body = bodyA),
      Model("b", Seq("a"), Materialization.Table,
        ctx => { invocations("b") += 1
          if (boom) throw new RuntimeException("boom")
          ctx.ref("a").filter(col("wm") > 0) }),
      Model("c", Seq("b"), Materialization.Table,
        ctx => { invocations("c") += 1; ctx.ref("b") })))
    val noSrc: String => org.apache.spark.sql.DataFrame =
      n => fail(s"unexpected source '$n'")
    intercept[RuntimeException](Retry.run(graph("v1"), mat, noSrc, wh))
    // the journal reflects exactly what completed before the failure
    assert(Retry.loadJournal(wh).keySet == Set("a"))
    boom = false
    val (ran, skipped) = Retry.run(graph("v1"), mat, noSrc, wh)
    assert(skipped == Seq("a") && ran == Seq("b", "c"), s"$ran / $skipped")
    assert(invocations("a") == 1, "completed upstream must not rebuild")
    assert(Retry.loadJournal(wh).isEmpty, "journal clears on success")
    assert(wh.read("analytics", "c").count() == 2)
    // within a failed window, an EDITED journaled model re-runs
    // (checksum mismatch) while unchanged completed ones still skip
    var boomC = true
    def graph2(bodyA: String) = ModelGraph(Seq(
      Model("a", Nil, Materialization.Table, _ => src, body = bodyA),
      Model("b", Seq("a"), Materialization.Table, ctx => ctx.ref("a")),
      Model("c", Seq("b"), Materialization.Table,
        ctx => { if (boomC) throw new RuntimeException("boom2")
          ctx.ref("b") })))
    intercept[RuntimeException](Retry.run(graph2("v1"), mat, noSrc, wh))
    boomC = false
    val (ran2, skipped2) = Retry.run(graph2("v2"), mat, noSrc, wh)
    assert(ran2 == Seq("a", "c") && skipped2 == Seq("b"),
      s"$ran2 / $skipped2")
  }

  test("threaded retry: threads 1 and 4 give the same journal, (ran, skipped) and tables") {
    val src = df(Seq((1L, "a", 1), (2L, "b", 2), (3L, "c", 3)))
    val noSrc: String => org.apache.spark.sql.DataFrame =
      n => fail(s"unexpected source '$n'")
    def crashAndRetry(threads: Int) = {
      val wh = freshWh(s"retry_diamond_t$threads")
      val mat = Materializer(wh)
      @volatile var boom = true
      // a diamond: b and c both read a, d joins them. c fails while its
      // sibling branch b can run beside it.
      val graph = ModelGraph(Seq(
        Model("a", Nil, Materialization.Table, _ => src),
        Model("b", Seq("a"), Materialization.Table,
          ctx => ctx.ref("a").filter(col("wm") > 1)),
        Model("c", Seq("a"), Materialization.Table, ctx => {
          if (boom) throw new RuntimeException("planted mid-run failure")
          ctx.ref("a").filter(col("wm") < 3) }),
        Model("d", Seq("b", "c"), Materialization.Table,
          ctx => ctx.ref("b").unionByName(ctx.ref("c")))))
      intercept[RuntimeException](Retry.run(graph, mat, noSrc, wh, threads = threads))
      val journal = Retry.loadJournal(wh)
      boom = false
      val ranSkipped = Retry.run(graph, mat, noSrc, wh, threads = threads)
      val tables = graph.topoOrder.map(n =>
        n -> wh.read("analytics", n).collect().map(_.toString).sorted.toSeq)
      (journal, ranSkipped, tables)
    }
    val one = crashAndRetry(1)
    assert(one._1.keySet == Set("a", "b"), one._1)
    assert(one._2 == ((Seq("c", "d"), Seq("a", "b"))), one._2)
    assert(one._3.last._2.size == 4)
    assert(crashAndRetry(4) == one)
  }

  test("model contracts: conforming model builds, drifted schema fails before anything writes") {
    val wh = freshWh("contract")
    val mat = Materializer(wh)
    val src = df(Seq((1L, "a", 1), (2L, "b", 2)))
    val good = Contract.of("k" -> LongType, "v" -> StringType,
      "wm" -> IntegerType)
    mat.run(Model("m_ok", Nil, Materialization.Table, _ => src,
      contract = Some(good)), n => fail(s"no refs: $n"))
    assert(wh.read("analytics", "m_ok").count() == 2)
    // type drift + an undeclared column -> build refused, no write
    val bad = Contract.of("k" -> StringType, "v" -> StringType)
    val e = intercept[IllegalArgumentException] {
      mat.run(Model("m_bad", Nil, Materialization.Table, _ => src,
        contract = Some(bad)), n => fail(s"no refs: $n"))
    }
    assert(e.getMessage.contains("type_mismatch") &&
      e.getMessage.contains("unexpected"))
    assertThrows[Exception](wh.read("analytics", "m_bad").collect())
  }

  test("unit tester: mocks override refs AND sources, diff aligns by name, incremental models build fresh") {
    import spark.implicits._
    val graph = ModelGraph(Seq(
      // incremental model: unit test must take the full-refresh branch
      // (thisTable=None), never a merge against real state
      Model("m", Seq("up"),
        Materialization.Incremental(IncrementalStrategy.Merge(Seq("grp"), None)),
        ctx => {
          assert(!ctx.isIncremental, "unit run must see no existing target")
          val base = ctx.ref("up").join(ctx.source("dim"), "k")
          base.groupBy("grp").agg(sum("x").as("total"))
        })))
    val up = Seq((1L, 10L), (2L, 5L), (3L, 7L)).toDF("k", "x")
    val dim = Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("k", "grp")
    // expect with columns deliberately REORDERED vs the transform output
    val expectOk = Seq((15L, "a"), (7L, "b")).toDF("total", "grp")
    val expectBad = Seq((14L, "a"), (7L, "b")).toDF("total", "grp")
    val noFallback: String => org.apache.spark.sql.DataFrame =
      n => fail(s"unit case should not touch real input '$n'")
    val rep = UnitTester.report(spark, graph, Seq(
        UnitTester.UnitCase("ok", "m", Map("up" -> up, "dim" -> dim), expectOk),
        UnitTester.UnitCase("bad", "m", Map("up" -> up, "dim" -> dim), expectBad)),
      noFallback)
      .collect().map(r => r.getString(0) ->
        ((r.getString(2), r.getLong(3), r.getLong(4)))).toMap
    assert(rep("ok") == (("pass", 0L, 0L)))
    assert(rep("bad") == (("fail", 1L, 1L)), "both diff sides counted")
  }

  test("docs profile: exact null/distinct accounting, one row per column") {
    val df = spark.createDataFrame(Seq(
        (1L, Option("a")), (2L, Option.empty[String]),
        (3L, Option("a")), (4L, Option("b"))))
      .toDF("k", "v")
    val prof = Docs.profileTable("t", df).collect()
      .map(r => r.getString(1) ->
        ((r.getString(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(prof("k") == (("bigint", 4L, 0L, 4L)))
    assert(prof("v") == (("string", 4L, 1L, 2L)),
      "null excluded from distinct, counted in n_nulls")
    val js = Docs.toJson(Docs.catalog(Seq("t" -> df)))
    assert(js.contains("\"column\":\"v\"") && js.contains("\"n_nulls\":1"))
  }

  test("z-order layout: 2-D range query prunes files, pruned read == full scan, beats linear layout") {
    import graft.operators.Layout
    val c = graft.sources.Catalog(spark, sfDir)
    val src = c.events.select("event_id", "user_id", "event_type", "value")
    val ranges = Seq(("user_id", 0L, 3L), ("event_id", 0L, 249L))
    val zroot = s"${Scratch.dir("spec_m24")}/z"
    Layout.writeZOrdered(src, zroot, "user_id", "event_id", nFiles = 16)
    val zstats = Layout.fileStats(spark, zroot, Seq("user_id", "event_id"))
    val (zkept, ztotal) = Layout.prunedFiles(zstats, ranges)
    assert(ztotal == 16L, s"expected 16 files, wrote $ztotal")
    assert(zkept.size * 2 < ztotal,
      s"z-order pruned under half (${zkept.size}/$ztotal) on a corner-box predicate")
    def sig(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    val pruned = Layout.prunedRead(spark, zroot, zstats, ranges)
    val full = src.filter(col("user_id").between(0, 3) &&
      col("event_id").between(0, 249))
    assert(full.count() > 0, "predicate should select rows at sf0.001")
    assert(sig(pruned) == sig(full),
      "manifest-pruned scan must be bit-identical to the full scan")
    // a LINEAR layout (sorted by user_id alone) under the same 2-D
    // predicate: event_id envelopes span the full range in every
    // file, so only the user_id dimension prunes — z-order must keep
    // no more files than that
    val lroot = s"${Scratch.dir("spec_m24")}/linear"
    src.repartitionByRange(16, col("user_id"))
      .sortWithinPartitions("user_id")
      .write.mode("overwrite").parquet(lroot)
    val lstats = Layout.fileStats(spark, lroot, Seq("user_id", "event_id"))
    val (lkept, _) = Layout.prunedFiles(lstats, ranges)
    assert(zkept.size <= lkept.size,
      s"z-order (${zkept.size}) should not read more files than single-key layout (${lkept.size})")
    // degenerate predicate outside the data range prunes everything
    val (none, _) = Layout.prunedFiles(zstats, Seq(("user_id", 1000L, 2000L)))
    assert(none.isEmpty)
    assert(Layout.prunedRead(spark, zroot, zstats,
      Seq(("user_id", 1000L, 2000L))).count() == 0L)
  }

  test("Selector grammar: closures, wildcard, intersection, exclude, unknown names") {
    import graft.core.{Materialization, Model, ModelGraph, Selector}
    def m(name: String, deps: Seq[String], tags: String*): Model =
      Model(name, deps, Materialization.View, _ => spark.emptyDataFrame,
        tags = tags)
    val g = ModelGraph(Seq(
      m("stg_a", Nil, "staging"), m("stg_b", Nil, "staging"),
      m("int_ab", Seq("stg_a", "stg_b")),
      m("mart_m", Seq("int_ab"), "mart")))
    // both-closures operator
    assert(Selector.select(g, "+int_ab+") ==
      Set("stg_a", "stg_b", "int_ab", "mart_m"))
    // @ = node + descendants + ancestors OF those descendants
    assert(Selector.select(g, "@stg_a") ==
      Set("stg_a", "stg_b", "int_ab", "mart_m"))
    // unknown / unmatched selectors select nothing (dbt warns, not fails)
    assert(Selector.select(g, "nope").isEmpty)
    assert(Selector.select(g, "zz_*").isEmpty)
    // intersection with an empty side is empty
    assert(Selector.select(g, "stg_a+,tag:nosuch").isEmpty)
    // exclude side speaks the full grammar too (graph op in exclude)
    assert(Selector.select(g, "stg_a+", Some("int_ab+")) == Set("stg_a"))
    // union of groups
    assert(Selector.select(g, "stg_b tag:mart") == Set("stg_b", "mart_m"))
  }

  test("ruleReport: one scan per table, zero counts on an empty table") {
    import graft.operators.DataQuality
    val c = graft.sources.Catalog(spark, sfDir)
    val empty = c.orders.filter(col("o_orderkey") < 0)
    val out = DataQuality.ruleReport(empty, Seq(
      "r1" -> DataQuality.acceptedRange(col("o_totalprice"),
        lit(0.0), lit(1.0)),
      "r2" -> DataQuality.expressionIsTrue(col("o_orderkey") > 0)))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map("r1" -> 0L, "r2" -> 0L))
    // the one-scan contract: a two-rule report reads orders ONCE
    val plan = DataQuality.ruleReport(c.orders, Seq(
      "r1" -> DataQuality.acceptedRange(col("o_totalprice"),
        lit(0.0), lit(400000.0)),
      "r2" -> DataQuality.expressionIsTrue(col("o_orderkey") > 0)))
      .queryExecution.executedPlan.toString
    assert("(?i)scan parquet".r.findAllIn(plan).size == 1,
      s"expected exactly one scan:\n$plan")
  }

  test("mutually_exclusive_ranges classifies overlap vs touch vs gap vs zero-length") {
    import graft.operators.DataQuality
    import spark.implicits._
    // key 1: [0,10] then [5,12] overlaps; [12,20] touches (valid);
    // [25,30] leaves a gap. key 2: a zero-length [3,3] (also counted
    // as an overlap candidate only if a predecessor covers it — none
    // does here) and a clean successor.
    val df = Seq(
      (1, 0, 10, 1), (1, 5, 12, 2), (1, 12, 20, 3), (1, 25, 30, 4),
      (2, 3, 3, 1), (2, 4, 9, 2)
    ).toDF("k", "lo", "hi", "n")
    val out = DataQuality
      .mutuallyExclusiveRanges(df, "lo", "hi", Seq("k"), Seq("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map(
      "overlapping_ranges" -> 1L, // (5,12) starts inside (0,10)
      "gaps_between_ranges" -> 2L, // 20->25 on key 1, 3->4 on key 2
      "zero_length_ranges" -> 1L), out)
    // an SCD2 snapshot's validity windows are exclusive-and-gapless:
    // all three checks must read zero on a well-formed history
    val scd2 = Seq((7, 0, 5, 1), (7, 5, 9, 2), (7, 9, 100, 3))
      .toDF("k", "lo", "hi", "n")
    val clean = DataQuality
      .mutuallyExclusiveRanges(scd2, "lo", "hi", Seq("k"), Seq("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(clean.values.forall(_ == 0L), clean)
  }

  test("vacuum: dry-run touches nothing, heal restores the only copy intact") {
    import graft.core.Warehouse
    val c = graft.sources.Catalog(spark, sfDir)
    val wh = Warehouse.scratch(spark, "vacspec")
    val data = c.nation
    val expected = data.count()
    // interrupted swap: the backup is the only copy
    wh.write(data, "s", "t.__old")
    wh.write(data.limit(2), "s", "junk.__tmp")
    // dry run: reports but leaves every path in place
    val dry = wh.vacuum(dryRun = true)
      .map(a => (a.table, a.kind, a.action)).toSet
    assert(dry == Set(("t", "interrupted_swap", "would_heal"),
      ("junk", "staged_tmp", "would_delete")))
    // the dry run must not have healed t or dropped junk.__tmp
    // (java.io checks, NOT wh.exists - that path self-heals)
    assert(new java.io.File(wh.path("s", "t.__old")).exists)
    assert(new java.io.File(wh.path("s", "junk.__tmp")).exists)
    // real sweep: heal preserves every row, junk is gone
    val real = wh.vacuum().map(a => (a.table, a.action)).toSet
    assert(real == Set(("t", "healed"), ("junk", "deleted")))
    assert(wh.read("s", "t").count() == expected)
    assert(!new java.io.File(wh.path("s", "junk.__tmp")).exists)
    // idempotent: a second sweep finds nothing
    assert(wh.vacuum().isEmpty)
    // sweep()/debris() stay projections of the same traversal:
    // heals are never listed as removable debris
    wh.write(data, "s", "t2.__old") // interrupted swap again
    assert(wh.debris().isEmpty)
    assert(wh.sweep().isEmpty) // heal happens, nothing "removed"
    assert(wh.read("s", "t2").count() == expected)
  }

  test("saveArtifact: every crash state leaves the old or the new content, healed by load and vacuum") {
    import scala.jdk.CollectionConverters._
    val wh = Warehouse.scratch(spark, "artcrash")
    val art = java.nio.file.Paths.get(wh.root, "_artifacts")
    def plant(file: String, s: String) =
      java.nio.file.Files.writeString(art.resolve(file), s)
    def present = java.nio.file.Files.list(art).iterator().asScala
      .map(_.getFileName.toString).filterNot(_.endsWith(".crc")).toSet
    wh.saveArtifact("seed", "x") // makes the directory, then drop it
    java.nio.file.Files.delete(art.resolve("seed"))
    java.nio.file.Files.deleteIfExists(art.resolve(".seed.crc"))
    // each state a crash can leave, in commit order:
    plant("a.__tmp", "half-writ")                 // first save, temp file torn
    plant("b", "b1"); plant("b.__tmp", "b2")      // temp written, live not yet aside
    plant("c.__old", "c1"); plant("c.__tmp", "c2") // live aside, temp not yet in
    plant("d", "d2"); plant("d.__old", "d1")      // temp in, backup not yet dropped
    plant("e.__old", "e1"); plant("e.__tmp", "e2") // as c, for vacuum to find
    // a load restores the backup a crash left as the only copy
    assert(Seq("a", "b", "c", "d").map(wh.loadArtifact) ==
      Seq(None, Some("b1"), Some("c1"), Some("d2")))
    assert(present == Set("a.__tmp", "b", "b.__tmp", "c", "c.__tmp", "d", "d.__old",
      "e.__old", "e.__tmp"))
    // the dry run reports the heal as no deletion, and touches nothing
    assert(wh.debris().toSet == Set("_artifacts/a.__tmp", "_artifacts/b.__tmp",
      "_artifacts/c.__tmp", "_artifacts/d.__old", "_artifacts/e.__tmp"))
    assert(present.contains("e.__old") && !present.contains("e"))
    val acts = wh.vacuum().map(a => (a.path, a.kind, a.action)).toSet
    assert(acts == Set(
      ("_artifacts/a.__tmp", "artifact_tmp", "deleted"),
      ("_artifacts/b.__tmp", "artifact_tmp", "deleted"),
      ("_artifacts/c.__tmp", "artifact_tmp", "deleted"),
      ("_artifacts/d.__old", "stale_backup", "deleted"),
      ("_artifacts/e.__old", "interrupted_swap", "healed"),
      ("_artifacts/e.__tmp", "artifact_tmp", "deleted")), acts)
    assert(present == Set("b", "c", "d", "e"))
    assert(Seq("b", "c", "d", "e").map(wh.loadArtifact) ==
      Seq(Some("b1"), Some("c1"), Some("d2"), Some("e1")))
    assert(wh.vacuum().isEmpty)
    // a save over a half-committed artifact commits and leaves nothing behind
    plant("c.__old", "c0"); java.nio.file.Files.delete(art.resolve("c"))
    plant("c.__tmp", "torn")
    wh.saveArtifact("c", "c3")
    assert(wh.loadArtifact("c").contains("c3"))
    assert(present == Set("b", "c", "d", "e"))
  }

  test("SQL-text models: dep derivation, is_incremental gating, checksum = text") {
    val sql =
      """SELECT a.x FROM {{ ref('stg_a') }} a
        |JOIN {{ ref('stg_b') }} ON a.x = {{ ref('stg_a') }}.x
        |{% if is_incremental() %}
        |WHERE a.x > (SELECT MAX(x) FROM {{ this }})
        |{% endif %}""".stripMargin
    // dbt derives the DAG from the raw text — dupes collapse, the
    // ref inside the conditional block still counts
    assert(SqlModel.refs(sql) == Seq("stg_a", "stg_b"))
    assert(SqlModel.sources("SELECT 1 FROM {{ source('raw', 'orders') }}")
      == Seq("orders"))
    // editing the SQL flips state:modified — the checksum IS the text
    val g1 = ModelGraph(Seq(SqlModel("m", "SELECT 1 AS x")))
    val g2 = ModelGraph(Seq(SqlModel("m", "SELECT 2 AS x")))
    val st = ManifestState.of(g1)
    assert(st.diff(g2) == Set("m"))
    assert(st.diff(g1).isEmpty)
    // first build: the is_incremental block strips; a bare {{ this }}
    // with no target fails loudly instead of silently rebuilding
    import org.apache.spark.sql.DataFrame
    val ctxNoTarget = new ModelCtx {
      def source(name: String): DataFrame = spark.range(1).toDF("x")
      def ref(name: String): DataFrame = spark.range(3).toDF("x")
      def thisTable: Option[DataFrame] = None
    }
    val guarded =
      """SELECT x FROM {{ ref('up') }}
        |{% if is_incremental() %}
        |WHERE x > (SELECT MAX(x) FROM {{ this }})
        |{% endif %}""".stripMargin
    assert(SqlModel.run("m", guarded, ctxNoTarget).count() == 3)
    intercept[IllegalStateException] {
      SqlModel.run("m", "SELECT x FROM {{ this }}", ctxNoTarget).count()
    }
    // incremental run: the block renders and {{ this }} binds
    val ctxIncr = new ModelCtx {
      def source(name: String): DataFrame = spark.range(1).toDF("x")
      def ref(name: String): DataFrame = spark.range(5).toDF("x")
      def thisTable: Option[DataFrame] = Some(spark.range(3).toDF("x"))
    }
    assert(SqlModel.run("m", guarded, ctxIncr)
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(3L, 4L))
  }

  test("merge-on-read: logs never touch the base, compact pays the debt") {
    val wh = freshWh("morspec")
    def kv(rows: (Long, String)*) =
      spark.createDataFrame(rows).toDF("k", "v")
    MergeOnRead.init(wh, "s", "t", kv(1L -> "a", 2L -> "b", 3L -> "c"))
    val baseP = new java.io.File(wh.path("s", "t") + "/_base")
    val baseStamp = baseP.listFiles().map(f => f.getName -> f.lastModified).toMap
    // commit 1: update k=2, insert k=4; commit 2: delete k=1
    MergeOnRead.merge(wh, "s", "t", kv(2L -> "B", 4L -> "d"), "k")
    MergeOnRead.merge(wh, "s", "t",
      kv(1L -> "a").withColumn("__del", lit(true)), "k", Some("__del"))
    def state() = MergeOnRead.read(wh, "s", "t", "k")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toSet
    assert(state() == Set(2L -> "B", 3L -> "c", 4L -> "d"))
    // O(batch) writes: the base files were never rewritten
    assert(baseP.listFiles().map(f => f.getName -> f.lastModified).toMap
      == baseStamp, "MOR merge must not touch the base")
    // compact: same state, logs gone, base is now a plain scan
    MergeOnRead.compact(wh, "s", "t", "k")
    assert(state() == Set(2L -> "B", 3L -> "c", 4L -> "d"))
    assert(!new java.io.File(wh.path("s", "t") + "/_log").exists,
      "compaction must truncate the logs")
    // a delete-then-reinsert resurrects cleanly in the new log era
    MergeOnRead.merge(wh, "s", "t", kv(1L -> "back"), "k")
    assert(state() == Set(1L -> "back", 2L -> "B", 3L -> "c", 4L -> "d"))
    // crashed-merge residue: an insert log whose deletes MARKER never
    // landed is an unpublished commit — invisible to reads, and the
    // next merge claims the slot cleanly
    kv(9L -> "ghost").write
      .parquet(wh.path("s", "t") + "/_log/inserts/c00002")
    assert(state() == Set(1L -> "back", 2L -> "B", 3L -> "c", 4L -> "d"))
    MergeOnRead.merge(wh, "s", "t", kv(5L -> "e"), "k")
    assert(state() ==
      Set(1L -> "back", 2L -> "B", 3L -> "c", 4L -> "d", 5L -> "e"))
  }

  test("WAP: failing audit aborts byte-identically, clean audit promotes") {
    val wh = freshWh("wapspec")
    val c = graft.sources.Catalog(spark, sfDir)
    val good = c.nation.select("n_nationkey", "n_name")
    val checks = Seq[(String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)](
      "not_null_key" -> (df => df.filter(col("n_nationkey").isNull)))
    val (ok1, r1) = Wap.publish(wh, "s", "t", good, checks)
    assert(ok1 && r1.map(_.violations) == Seq(0L))
    val liveDir = new java.io.File(wh.path("s", "t"))
    val stamp = liveDir.listFiles().map(f => f.getName -> f.lastModified).toMap
    // corrupt batch: audit fails, live table untouched (same files,
    // same mtimes), audit stage cleaned up
    val bad = good.withColumn("n_nationkey",
      when(col("n_nationkey") % 2 === 0, lit(null).cast(LongType))
        .otherwise(col("n_nationkey")))
    val (ok2, r2) = Wap.publish(wh, "s", "t", bad, checks)
    assert(!ok2 && r2.head.violations > 0)
    assert(liveDir.listFiles().map(f => f.getName -> f.lastModified).toMap
      == stamp, "abort must leave the live table byte-identical")
    assert(!new java.io.File(wh.path("s", "t.__audit")).exists,
      "abort must drop the audit stage")
    assert(wh.read("s", "t").count() == good.count())
    // a crashed WAP stage (died mid-audit) sweeps like any stage
    wh.write(good.limit(2), "s", "t2.__audit")
    assert(wh.vacuum().map(a => (a.table, a.kind, a.action))
      .contains(("t2", "staged_tmp", "deleted")))
    // and audit stages never leak into schema-wide listings
    wh.write(good.limit(2), "s", "t3.__audit")
    assert(wh.tables("s") == Seq("t"))
  }

  test("time travel: appends share commits, as-of reads survive overwrite") {
    val c = graft.sources.Catalog(spark, sfDir)
    val wh = Warehouse.scratch(spark, "ttspec")
    val a = c.nation.filter(col("n_nationkey") < 10)
    val b = c.nation.filter(col("n_nationkey") >= 10)
    assert(TimeTravel.commit(wh, "s", "t", a, "overwrite") == 1)
    assert(TimeTravel.commit(wh, "s", "t", b, "append") == 2)
    // the append snapshot REFERENCES v1's commit — shared, not copied
    val h2 = TimeTravel.history(wh, "s", "t")
    assert(h2.map(s => s.version -> s.commits) ==
      Seq(1 -> Seq("c00001"), 2 -> Seq("c00001", "c00002")))
    // corrective overwrite: current state shrinks to 3 rows...
    assert(TimeTravel.commit(wh, "s", "t",
      c.nation.limit(3), "overwrite") == 3)
    assert(TimeTravel.read(wh, "s", "t").count() == 3)
    // ...but history still answers exactly
    assert(TimeTravel.read(wh, "s", "t", version = 1).count() == a.count())
    assert(TimeTravel.read(wh, "s", "t", version = 2).count() == c.nation.count())
    // a crashed writer's data-without-manifest residue is INVISIBLE:
    // only the manifest rename commits (the Delta-log protocol)
    c.nation.limit(1).write.parquet(wh.path("s", "t") + "/_commits/c00004")
    assert(TimeTravel.history(wh, "s", "t").map(_.version) == Seq(1, 2, 3))
    assert(TimeTravel.read(wh, "s", "t").count() == 3)
    // reading past the end or before v1 fails loudly
    intercept[IllegalArgumentException] {
      TimeTravel.read(wh, "s", "t", version = 0)
    }
  }

  test("m35: a macro or var edit changes the calling SQL model's checksum (state:modified over macros)") {
    val v1 = Jinja.parseMacros(
      "{% macro pts(c) %}case when {{ c }} = 'A' then 1 else 0 end{% endmacro %}")
    val v2 = Jinja.parseMacros(
      "{% macro pts(c) %}case when {{ c }} = 'A' then 2 else 0 end{% endmacro %}")
    val sql = "SELECT {{ pts('x') }} AS p FROM {{ source('raw', 'orders') }}"
    val a = SqlModel("m", sql, macros = v1)
    // same macro → stable checksum (no spurious rebuilds)
    assert(a.checksum == SqlModel("m", sql, macros = v1).checksum)
    // edited macro body → different body → different checksum, the
    // way dbt's macro-aware manifest diff trips state:modified
    assert(a.checksum != SqlModel("m", sql, macros = v2).checksum)
    // a re-bound var is a body diff too
    val vsql = "SELECT * FROM {{ source('raw', 'orders') }} WHERE y >= {{ var('min_year', 1990) }}"
    assert(SqlModel("m", vsql).checksum !=
      SqlModel("m", vsql, vars = Map("min_year" -> "1997")).checksum)
  }

  test("m38: versioned refs resolve (pinned + floating), validate, and float checksums on a latest bump") {
    def spec(latest: Int) = VersionedModel("fct",
      versions = Seq(
        1 -> SqlModel("fct", "SELECT a FROM {{ source('raw', 'orders') }}"),
        2 -> SqlModel("fct", "SELECT b FROM {{ source('raw', 'orders') }}")),
      latestVersion = latest)
    val s2 = Seq(spec(2))
    // pinned ref → concrete version; bare ref → latest; refs to
    // non-versioned models pass through untouched
    assert(Versioned.rewriteRefs("{{ ref('fct', v=1) }}", s2)
      == "{{ ref('fct_v1') }}")
    assert(Versioned.rewriteRefs("{{ ref('fct') }}", s2)
      == "{{ ref('fct_v2') }}")
    assert(Versioned.rewriteRefs("{{ ref('other') }}", s2)
      == "{{ ref('other') }}")
    // compile-time validation, dbt-style: unknown version / model fail
    intercept[IllegalArgumentException] {
      Versioned.rewriteRefs("{{ ref('fct', v=9) }}", s2)
    }
    intercept[IllegalArgumentException] {
      Versioned.rewriteRefs("{{ ref('nope', v=1) }}", s2)
    }
    // a latest_version bump changes exactly the FLOATING consumer's
    // checksum (state:modified selects it); the pinned one is stable
    val floatSql = "SELECT * FROM {{ ref('fct') }}"
    val pinSql = "SELECT * FROM {{ ref('fct', v=1) }}"
    def model(sql: String, specs: Seq[VersionedModel]) =
      SqlModel("c", Versioned.rewriteRefs(sql, specs))
    assert(model(floatSql, Seq(spec(1))).checksum
      != model(floatSql, Seq(spec(2))).checksum)
    assert(model(pinSql, Seq(spec(1))).checksum
      == model(pinSql, Seq(spec(2))).checksum)
    // lowering: per-version relations, deps intact, DAG edges bind
    val low = Versioned.lower(spec(2))
    assert(low.map(_.name) == Seq("fct_v1", "fct_v2"))
    val g = ModelGraph(low :+ model(pinSql, s2))
    assert(g.downstream("fct_v1").contains("c"))
    // single-pass rewrite: emitted text is never re-scanned, so a
    // spec whose NAME equals another spec's concrete _v1 relation
    // cannot capture the first spec's pinned output
    val tricky = s2 :+ VersionedModel("fct_v1",
      versions = Seq(1 -> SqlModel("fct_v1",
        "SELECT z FROM {{ source('raw', 'orders') }}")),
      latestVersion = 1)
    assert(Versioned.rewriteRefs("{{ ref('fct', v=1) }}", tricky)
      == "{{ ref('fct_v1') }}")
  }

  test("m38: deprecating the LATEST version warns without a migrate target") {
    val spec = VersionedModel("fct",
      versions = Seq(1 -> SqlModel("fct",
        "SELECT a FROM {{ source('raw', 'orders') }}")),
      latestVersion = 1,
      deprecationDates = Map(1 -> "2026-09-01"))
    val g = ModelGraph(Versioned.lower(spec) :+ SqlModel("c",
      Versioned.rewriteRefs("SELECT * FROM {{ ref('fct') }}", Seq(spec))))
    val w = Versioned.deprecationWarnings(Seq(spec), g)
    assert(w.size == 1 && w.head.contains("no newer version declared")
      && !w.head.contains("migrate to"), w.mkString("; "))
  }

  test("m38: deprecation warnings name pinned consumers of deprecated versions only") {
    val spec = VersionedModel("fct",
      versions = Seq(
        1 -> SqlModel("fct", "SELECT a FROM {{ source('raw', 'orders') }}"),
        2 -> SqlModel("fct", "SELECT b FROM {{ source('raw', 'orders') }}")),
      latestVersion = 2,
      deprecationDates = Map(1 -> "2026-06-01"))
    val specs = Seq(spec)
    val g = ModelGraph(Versioned.lower(spec) ++ Seq(
      SqlModel("old_mart",
        Versioned.rewriteRefs("SELECT * FROM {{ ref('fct', v=1) }}", specs)),
      SqlModel("new_mart",
        Versioned.rewriteRefs("SELECT * FROM {{ ref('fct') }}", specs))))
    val warns = Versioned.deprecationWarnings(specs, g)
    assert(warns.size == 1, warns.mkString("\n"))
    assert(warns.head.contains("old_mart") && warns.head.contains("fct.v1")
      && warns.head.contains("2026-06-01") && warns.head.contains("fct.v2"))
  }

  test("m39: access violations name both models at graph-assembly time; valid graphs run") {
    def m(name: String, deps: Seq[String]): Model =
      Model(name, deps, Materialization.View,
        ctx => deps.headOption.fold(
          spark.range(1).toDF("id"))(ctx.ref))
    val gov = Map(
      "fct" -> Governance("finance", Access.Private),
      "rpt" -> Governance("finance", Access.Public),
      "mkt" -> Governance("marketing", Access.Protected))
    // valid: same-group private ref + cross-group public ref
    val ok = ModelGraph(Seq(m("fct", Nil), m("rpt", Seq("fct")),
      m("mkt", Seq("rpt"))))
    assert(AccessControl.violations(ok, gov).isEmpty)
    AccessControl.enforce(ok, gov) // must not throw
    Runner(Materializer(freshWh("m39_ok")), _ => spark.range(1).toDF("id"))
      .runAll(ok) // governance does not disturb execution
    // invalid: marketing reaches into finance's private plumbing
    val bad = ModelGraph(Seq(m("fct", Nil), m("rpt", Seq("fct")),
      m("mkt", Seq("fct"))))
    val v = AccessControl.violations(bad, gov)
    assert(v.size == 1 && v.head.contains("mkt")
      && v.head.contains("private model fct"), v.mkString("; "))
    intercept[IllegalArgumentException] { AccessControl.enforce(bad, gov) }
    // protected stops at the package boundary; public crosses it
    val extGov = gov + ("ext" -> Governance("partner",
      Access.Protected, pkg = "other"))
    val ext = ModelGraph(Seq(m("fct", Nil), m("rpt", Seq("fct")),
      m("mkt", Seq("rpt")), m("ext", Seq("mkt", "rpt"))))
    val ev = AccessControl.violations(ext, extGov)
    assert(ev.size == 1 && ev.head.contains("protected model mkt"),
      ev.mkString("; "))
    // an UNGOVERNED dep defaults to protected-in-main on the dep side
    // too: a cross-package consumer cannot slip through just because
    // the dep never declared governance
    val ung = ModelGraph(Seq(m("plain", Nil), m("ext2", Seq("plain"))))
    val ungGov = Map("ext2" -> Governance("partner",
      Access.Protected, pkg = "other"))
    val uv = AccessControl.violations(ung, ungGov)
    assert(uv.size == 1 && uv.head.contains("protected model plain"),
      uv.mkString("; "))
    // a private model with an empty group would match every
    // ungoverned consumer — rejected at declaration
    intercept[IllegalArgumentException] {
      Governance("", Access.Private)
    }
  }

  test("m40: impact analysis reaches exposures one hop past the DAG; selection resolves upstream") {
    def m(name: String, deps: Seq[String]): Model =
      Model(name, deps, Materialization.View, _ => spark.emptyDataFrame)
    val g = ModelGraph(Seq(
      m("stg_a", Nil), m("stg_b", Nil), m("stg_c", Nil),
      m("int_ab", Seq("stg_a", "stg_b")),
      m("int_bc", Seq("stg_b", "stg_c")),
      m("mart_x", Seq("int_ab")),
      m("mart_y", Seq("int_ab", "int_bc"))))
    val exposures = Seq(
      Exposure("exec_dash", "dashboard", "a@x", Seq("mart_x", "mart_y")),
      Exposure("churn_model", "ml", "b@x", Seq("int_bc")),
      Exposure("raw_feed", "application", "c@x", Seq("stg_a")))
    // editing stg_c flows through int_bc and mart_y: it breaks the
    // dashboard and the ML job, but never the raw feed
    val hit = Exposures.impacted(g, exposures, Set("stg_c")).map(_.name)
    assert(hit == Seq("churn_model", "exec_dash"), hit)
    // editing a leaf feeding only the feed: only the feed
    assert(Exposures.impacted(g, exposures, Set("stg_a")).map(_.name)
      == Seq("exec_dash", "raw_feed")) // stg_a also feeds int_ab -> marts
    // +exposure:churn_model builds exactly the ML job's provenance
    assert(Exposures.selectUpstream(g, exposures, "churn_model")
      == Set("int_bc", "stg_b", "stg_c"))
    intercept[IllegalArgumentException] {
      Exposures.selectUpstream(g, exposures, "nope")
    }
    // docs rows are deterministic and carry the dependency list
    val rows = Exposures.catalogRows(exposures)
    assert(rows.map(_._1) == Seq("churn_model", "exec_dash", "raw_feed"))
    assert(rows.find(_._1 == "exec_dash").get._5 == "mart_x,mart_y")
  }

  test("m44: build gates downstream on tests — skipped models never materialize, failed model's table exists") {
    import spark.implicits._
    val wh = freshWh("build_gate")
    val src = Seq((1, 10.0), (2, 2000.0)).toDF("k", "price")
    val graph = ModelGraph(Seq(
      Model("stg", Seq("src"), Materialization.Table,
        ctx => ctx.source("src")),
      Model("mart", Seq("stg"), Materialization.Table,
        ctx => ctx.ref("stg").agg(sum(col("price")).as("t"))),
      Model("side", Seq("src"), Materialization.Table,
        ctx => ctx.source("src").select("k"))))
    val rs = Build.run(Materializer(wh), graph, _ => src, tests = Map(
      "stg" -> Seq("price_cap" -> (df => df.filter(col("price") > 100)))))
    assert(rs.map(r => r.name -> r.status).toMap == Map(
      "stg" -> "test_failed:price_cap",
      "mart" -> "skipped:stg",
      "side" -> "success"))
    // dbt semantics: the FAILED model built (its test ran after);
    // the SKIPPED model never materialized
    assert(wh.exists("analytics", "stg"))
    assert(!wh.exists("analytics", "mart"))
    assert(wh.exists("analytics", "side"))
    // a clean run gates nothing
    val ok = Build.run(Materializer(wh), graph, _ => src, tests = Map(
      "stg" -> Seq("price_cap" -> (df => df.filter(col("price") > 1e9)))))
    assert(ok.forall(_.status == "success"))
  }

  test("m42: erasure purges every keyed table, rebuilds read purged state, fingerprint retains no keys") {
    import spark.implicits._
    val wh = freshWh("erasure")
    wh.write(Seq((1, "a"), (2, "b"), (3, "c"), (4, "d")).toDF("k", "v"),
      "core", "subjects")
    wh.write(Seq((10, 1), (11, 2), (12, 2), (13, 3)).toDF("id", "k"),
      "core", "facts")
    val perK = (w: Warehouse) => w.read("core", "facts")
      .groupBy(lit("all").as("bucket")).agg(count(lit(1)).as("n"))
    wh.write(perK(wh), "core", "totals")
    val keys = Seq(2, 4).toDF("k")
    val reports = Erasure(wh, keys, Erasure.Subject(
      keyed = Seq(("core", "subjects", "k"), ("core", "facts", "k")),
      rebuilds = Seq(("core", "totals", perK))), "req1")
    // keyed tables: the subjects are gone, everything else intact
    assert(wh.read("core", "subjects").select("k").as[Int].collect().sorted
      .toSeq == Seq(1, 3))
    assert(wh.read("core", "facts").select("id").as[Int].collect().sorted
      .toSeq == Seq(10, 13))
    // the keyless aggregate was rebuilt FROM the purged base
    assert(wh.read("core", "totals").select("n").as[Long].head() == 2L)
    assert(reports.map(r => r.table -> r.rowsDeleted).toMap == Map(
      "core.subjects" -> 2L, "core.facts" -> 2L, "core.totals" -> 0L))
    // the journal exists and retains a fingerprint, not the keys
    val art = wh.loadArtifact("erasure_req1.json").get
    assert(art.contains("crc32sum:") && !art.contains("\"keys\":"))
    // fingerprint is order-free and key-sensitive
    assert(Erasure.requestFp(Seq(4, 2).toDF("k"))
      == Erasure.requestFp(Seq(2, 4).toDF("k")))
    assert(Erasure.requestFp(Seq(2, 5).toDF("k"))
      != Erasure.requestFp(Seq(2, 4).toDF("k")))
  }

  test("m41: column lineage is precise, rejects ambiguity, expands qualified stars") {
    val sources = Map(
      "orders" -> Seq("o_orderkey", "o_custkey", "o_totalprice"),
      "customer" -> Seq("c_custkey", "c_name", "c_phone"))
    // precision: editing customer.c_phone must NOT flag a mart that
    // only reads c_name — the point of column over model granularity
    val lineage = ColumnLineage.toSources(spark, Seq(
      "stg_c" -> "SELECT c_custkey AS id, c_name AS name FROM {{ source('raw','customer') }}",
      "mart" -> "SELECT name, count(*) AS n FROM {{ ref('stg_c') }} GROUP BY name"),
      sources)
    assert(ColumnLineage.impactedColumns(lineage, ("customer", "c_phone")).isEmpty)
    assert(ColumnLineage.impactedColumns(lineage, ("customer", "c_name"))
      == Seq(("mart", "name"), ("stg_c", "name")))
    // a qualified star expands exactly the target relation's columns
    val star = ColumnLineage.toSources(spark, Seq(
      "m" -> ("SELECT o.* FROM {{ source('raw','orders') }} o " +
        "JOIN {{ source('raw','customer') }} c ON o.o_custkey = c.c_custkey")),
      sources)("m")
    assert(star.map(_.name) == Seq("o_orderkey", "o_custkey", "o_totalprice"))
    // an unqualified column visible from both join sides is an error,
    // exactly as the analyzer would treat it
    val err = intercept[IllegalArgumentException] {
      ColumnLineage.toSources(spark, Seq(
        "dup" -> ("SELECT cust_id FROM {{ ref('a') }} JOIN {{ ref('b') }} ON 1=1"),
        "a" -> "SELECT o_custkey AS cust_id FROM {{ source('raw','orders') }}",
        "b" -> "SELECT c_custkey AS cust_id FROM {{ source('raw','customer') }}"),
        sources)
    }
    assert(err.getMessage.contains("ambiguous"))
    // computed columns must be aliased (dbt contract enforcement)
    val noAlias = intercept[IllegalArgumentException] {
      ColumnLineage.ofSql(spark,
        "SELECT o_totalprice * 2 FROM orders", sources)
    }
    assert(noAlias.getMessage.contains("alias required"))
  }

  test("run hooks fire around the DAG: start before the first model, end after the last") {
    val wh = freshWh("hooks_order")
    val order = scala.collection.mutable.ArrayBuffer.empty[String]
    val graph = ModelGraph(Seq(
      Model("t1", Seq("src"), Materialization.Table,
        ctx => { order.synchronized { order += "model" }; ctx.source("src") },
        body = "t1")))
    Runner(Materializer(wh), _ => df(Seq((1L, "a", 1))),
        hooks = RunHooks(
          onRunStart = Seq(Hook("boot", "v1", () => order += "start")),
          onRunEnd = Seq(Hook("audit", "v1", () => order += "end"))))
      .runAll(graph)
    assert(order.toSeq == Seq("start", "model", "end"))
  }

  test("retry skips a completed-and-unchanged start hook, re-fires an edited one") {
    val wh = freshWh("hooks_retry")
    var fires = 0
    def hook(body: String) = Hook("boot", body, () => fires += 1)
    @volatile var boom = true
    val graph = ModelGraph(Seq(
      Model("ok", Seq("src"), Materialization.Table,
        ctx => ctx.source("src"), body = "ok"),
      Model("bad", Seq("ok"), Materialization.Table,
        ctx => { if (boom) sys.error("transient"); ctx.ref("ok") },
        body = "bad")))
    val mat = Materializer(wh)
    val srcs: String => org.apache.spark.sql.DataFrame =
      _ => df(Seq((1L, "a", 1)))
    // run 1: hook fires, 'ok' journals, 'bad' dies
    intercept[RuntimeException] {
      Retry.run(graph, mat, srcs, wh, hooks = RunHooks(Seq(hook("v1"))))
    }
    assert(fires == 1)
    // retry with the SAME hook body: skipped (its DDL side effect
    // already exists), models resume past the journal
    boom = false
    val (ran, skipped) =
      Retry.run(graph, mat, srcs, wh, hooks = RunHooks(Seq(hook("v1"))))
    assert(fires == 1)
    assert(skipped.contains("boot") && skipped.contains("ok"))
    assert(ran == Seq("bad"))
    // a fresh run with an EDITED hook body re-fires it
    Retry.run(graph, mat, srcs, wh, hooks = RunHooks(Seq(hook("v2"))))
    assert(fires == 2)
  }

  test("semantic metrics: every metric type computes correctly from one definition") {
    import spark.implicits._
    val t = Seq(
      ("A", "2024-01-05", 10.0), ("A", "2024-01-20", 30.0),
      ("A", "2024-02-10", 60.0), ("B", "2024-01-15", 100.0))
      .toDF("seg", "d", "amt")
      .withColumn("d", col("d").cast("timestamp"))
    val model = Metrics.SemanticModel(
      table = t,
      dimensions = Map("seg" -> col("seg")),
      timeDimension = col("d"),
      measures = Map(
        "amt" -> Metrics.Measure("sum", col("amt")),
        "n" -> Metrics.Measure("count", lit(1))))
    val out = Metrics.query(model, Seq(
        Metrics.Simple("rev", "amt"),
        Metrics.Simple("big", "amt", Some(col("amt") >= 50.0)),
        Metrics.Simple("n", "n"),
        Metrics.Ratio("aov", "rev", "n"),
        Metrics.Derived("reg", m => m("rev") - coalesce(m("big"), lit(0.0)),
          Seq("rev", "big")),
        Metrics.Cumulative("cum", "rev")),
      groupBy = Seq("seg"), grain = "month")
      .orderBy("seg", "metric_time__month")
      .collect().map(r => (r.getString(0), r.getDate(1).toString,
        r.getDouble(2), Option(r.get(3)).map(_.asInstanceOf[Double]),
        r.getLong(4), r.getDouble(5), r.getDouble(6), r.getDouble(7)))
    assert(out.toSeq == Seq(
      // seg, month, rev, big(filtered: null when no qualifying rows),
      // n, aov, reg, cum(running per seg)
      ("A", "2024-01-01", 40.0, None, 2L, 20.0, 40.0, 40.0),
      ("A", "2024-02-01", 60.0, Some(60.0), 1L, 60.0, 0.0, 100.0),
      ("B", "2024-01-01", 100.0, Some(100.0), 1L, 100.0, 0.0, 100.0)))
    // unknown metric/measure/dimension/grain fail loudly
    intercept[IllegalArgumentException] {
      Metrics.query(model, Seq(Metrics.Simple("x", "nope")),
        Seq("seg"), "month").collect()
    }
    intercept[IllegalArgumentException] {
      Metrics.query(model, Seq(Metrics.Simple("rev", "amt")),
        Seq("seg"), "week").collect()
    }
  }

  test("semantic metrics compile to ONE scan however many metrics the query asks") {
    val c = graft.sources.Catalog(spark, sfDir)
    val model = Metrics.SemanticModel(
      table = c.orders,
      dimensions = Map("status" -> col("o_orderstatus")),
      timeDimension = col("o_orderdate"),
      measures = Map(
        "total" -> Metrics.Measure("sum", col("o_totalprice")),
        "n" -> Metrics.Measure("count", lit(1)),
        "mx" -> Metrics.Measure("max", col("o_totalprice"))))
    val out = Metrics.query(model, Seq(
        Metrics.Simple("rev", "total"),
        Metrics.Simple("n", "n"),
        Metrics.Simple("mx", "mx"),
        Metrics.Ratio("aov", "rev", "n"),
        Metrics.Cumulative("cum", "rev")),
      groupBy = Seq("status"), grain = "year")
    val scans = out.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l
    }.size
    assert(scans == 1,
      s"expected one orders scan, plan:\n${out.queryExecution.optimizedPlan}")
  }

  for (q <- Engine.all) {
    test(s"${q.name} returns rows at sf0.001") {
      assert(q.run(spark, sfDir).count() > 0)
    }
  }

  test("GraftExtensions: custom expressions reach SQL on a live session") {
    graft.GraftExtensions.install(spark)
    val dot = spark.sql(
      "SELECT dot_product(array(1.0d, 2.0d, 3.0d), array(4.0d, 5.0d, 6.0d))")
      .collect()(0).getDouble(0)
    assert(dot == 32.0)
    // NFC: e + combining acute composes to the precomposed char
    val nfc = spark.sql("SELECT nfc_normalize('e\u0301')")
      .collect()(0).getString(0)
    assert(nfc == "\u00e9")
    // misra_gries through SQL is the same summary the typed-column
    // path produces: exact counts in the no-decrement regime
    spark.range(0, 100).selectExpr("concat('w', id % 5) AS w")
      .createOrReplaceTempView("mg_items")
    val counts = spark.sql(
      """SELECT s.item, s.cnt FROM (
        |  SELECT misra_gries(w, 16) AS summary FROM mg_items
        |) t LATERAL VIEW inline(summary) s AS item, cnt""".stripMargin)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == (0 until 5).map(i => s"w$i" -> 20L).toMap)
    // window_hashes in SQL equals the Column-API expression
    val viaSql = spark.sql(
      "SELECT window_hashes(array('a','b','c','d'), 3)")
      .collect()(0).getSeq[Long](0)
    val viaCol = spark.range(1)
      .select(graft.plans.HashExpressions.windowHashes(
        org.apache.spark.sql.functions.array(
          org.apache.spark.sql.functions.lit("a"),
          org.apache.spark.sql.functions.lit("b"),
          org.apache.spark.sql.functions.lit("c"),
          org.apache.spark.sql.functions.lit("d")), 3))
      .collect()(0).getSeq[Long](0)
    assert(viaSql == viaCol && viaSql.size == 2)
    // kmv_distinct through SQL: exact regime (k > distinct) == the
    // true distinct count
    val kmv = spark.sql(
      "SELECT kmv_distinct(xxhash64(CAST(id % 37 AS STRING)), 256) FROM range(5000)")
      .collect()(0).getLong(0)
    assert(kmv == 37L)
  }

  test("m52 multi-table txn: crashed staging is invisible, racing writers retry cleanly, untouched pointers carry forward") {
    import spark.implicits._
    val wh = Warehouse.scratch(spark, "m52spec")
    def t1(v: Int) = Seq((v, "a")).toDF("v", "k")
    def t2(v: Int) = Seq((v, "b")).toDF("v", "k")
    MultiTxn.transact(wh, "s", "init")(_ =>
      Map("left" -> t1(1), "right" -> t2(1)))

    // crash between staging and commit: BOTH tables' new dirs exist
    // on disk, NEITHER is visible; the old pair stays consistent
    val s1 = MultiTxn.snapshot(wh, "s")
    MultiTxn.stage(wh, "s", "left", t1(99), s1.version + 1, "crasher")
    MultiTxn.stage(wh, "s", "right", t2(99), s1.version + 1, "crasher")
    val after = MultiTxn.snapshot(wh, "s")
    assert(after.version == s1.version)
    assert(MultiTxn.read(wh, "s", after, "left").collect()(0).getInt(0) == 1)
    assert(MultiTxn.read(wh, "s", after, "right").collect()(0).getInt(0) == 1)

    // race: two writers snapshot the same version; the loser's CAS
    // refuses and a retry from the winner's state lands both effects
    val base = MultiTxn.snapshot(wh, "s")
    val aStaged = Map("left" ->
      MultiTxn.stage(wh, "s", "left", t1(2), base.version + 1, "wa"))
    val bStaged = Map("right" ->
      MultiTxn.stage(wh, "s", "right", t2(2), base.version + 1, "wb"))
    assert(MultiTxn.tryCommit(wh, "s", aStaged, base.version, "wa"))
    assert(!MultiTxn.tryCommit(wh, "s", bStaged, base.version, "wb"),
      "a stale snapshot must lose the catalog CAS")
    MultiTxn.transact(wh, "s", "wb")(_ => Map("right" -> t2(2)))
    val fin = MultiTxn.snapshot(wh, "s")
    assert(fin.version == base.version + 2)
    assert(MultiTxn.read(wh, "s", fin, "left").collect()(0).getInt(0) == 2)
    assert(MultiTxn.read(wh, "s", fin, "right").collect()(0).getInt(0) == 2)

    // carry-forward: wa's commit touched only `left`, yet `right`
    // stayed resolvable at every intermediate version
    val mid = MultiTxn.snapshotAt(wh, "s", fin.version - 1)
    assert(MultiTxn.read(wh, "s", mid, "right").collect()(0).getInt(0) == 1)
  }

  test("m51 partition evolution: old-spec files prune at year granularity, new-spec at month; pruned scan is exact") {
    val c = graft.sources.Catalog(spark, sfDir)
    val t = Engine.evolvedOrders(spark, c)
    // manifest invariant: spec-1 files carry year only; spec-2 both
    val bydSpec = t.manifest.filter(col("file") =!= "")
      .groupBy("spec_id")
      .agg(count(lit(1)).as("n"),
        sum(when(col("p_m").isNull, 1).otherwise(0)).as("n_null_m"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(bydSpec(1)._1 == bydSpec(1)._2, "every spec-1 file must lack p_m")
    assert(bydSpec(2)._2 == 0L, "every spec-2 file must carry p_m")

    // the m51 query's pruning: March of 1996+1997
    val (kept, total) = PartitionEvolution.prunedFiles(t,
      Seq("p_y" -> ((y: org.apache.spark.sql.Column) => y.isin(1996, 1997)),
        "p_m" -> ((m: org.apache.spark.sql.Column) => m === 3)))
    val man = t.manifest.filter(col("file") =!= "").collect()
      .map(r => (r.getString(0), r.getInt(1),
        Option(r.get(2)).map(_.asInstanceOf[Int]),
        Option(r.get(3)).map(_.asInstanceOf[Int])))
    val expected = man.collect {
      // inclusive projection: a 1996 year-file survives WHOLE (its
      // spec cannot refute month=3); a 1997 file survives iff m=3
      case (f, _, Some(1996), None) => f
      case (f, _, Some(1997), Some(3)) => f
    }.toSeq.sorted
    assert(kept == expected, s"pruning drift: kept=$kept expected=$expected")
    assert(kept.nonEmpty && kept.size < total,
      s"pruning must drop files: kept ${kept.size} of $total")
    // no other-year file may be read
    assert(man.filter(e => kept.contains(e._1))
      .forall(e => e._3.exists(y => y == 1996 || y == 1997)))

    // pruned scan + row filter == full scan + row filter, bit-equal
    val pred = month(col("o_orderdate")) === 3 &&
      year(col("o_orderdate")).isin(1996, 1997)
    val pruned = PartitionEvolution.scan(spark, t,
        Seq("p_y" -> ((y: org.apache.spark.sql.Column) => y.isin(1996, 1997)),
          "p_m" -> ((m: org.apache.spark.sql.Column) => m === 3)), pred)
      .orderBy("o_orderkey").collect().map(_.toString).toSeq
    val allFiles = man.map(_._1)
    val full = spark.read.parquet(allFiles: _*).filter(pred)
      .orderBy("o_orderkey").collect().map(_.toString).toSeq
    assert(pruned == full && pruned.nonEmpty)

    // a month predicate alone (no year bound) still prunes the NEW
    // era to one month per year while keeping every OLD-era file —
    // exactly Iceberg's coarser-granularity fallback, never a wrong
    // answer
    val (keptM, _) = PartitionEvolution.prunedFiles(t,
      Seq("p_m" -> ((m: org.apache.spark.sql.Column) => m === 3)))
    val oldEra = man.filter(_._2 == 1).map(_._1)
    assert(oldEra.forall(keptM.contains), "old-era files must all survive")
    assert(man.filter(e => e._2 == 2 && keptM.contains(e._1))
      .forall(_._4.contains(3)), "new-era files must prune to m=3")
  }

  test("m51 guard: an all-pruned scan returns the non-empty scan's schema, even when the first commit id isn't 0") {
    import spark.implicits._
    import graft.core.PartitionEvolution
    import graft.core.PartitionEvolution.Spec
    val rows = Seq((1L, java.sql.Date.valueOf("1996-03-15"), 10))
      .toDF("id", "d", "v")
    val root = graft.core.Scratch.dir("evoEmptyScan").toString
    var t = PartitionEvolution.empty(spark, root, Seq("p_y", "p_m"))
    // first commit id deliberately NOT 0 — the fallback must derive
    // its schema from a manifest-recorded file, not an assumed dir
    t = PartitionEvolution.commit(spark, t, rows,
      Spec(1, Seq("p_y" -> year(col("d")))), 7)
    val hit = PartitionEvolution.scan(spark, t,
      Seq("p_y" -> ((c: org.apache.spark.sql.Column) => c === 1996)), lit(true))
    val miss = PartitionEvolution.scan(spark, t,
      Seq("p_y" -> ((c: org.apache.spark.sql.Column) => c === 1842)), lit(true))
    assert(miss.count() == 0)
    assert(miss.schema == hit.schema,
      s"empty and non-empty scans must agree on schema: ${miss.schema} vs ${hit.schema}")
    // union-ability is the caller contract the old fallback broke
    assert(hit.unionByName(miss).count() == 1)
  }

  test("m52 guard: a table name outside the manifest identifier grammar is rejected at stage time, not silently lost at parse time") {
    import spark.implicits._
    val wh = Warehouse.scratch(spark, "m52guard")
    val df = Seq((1, "a")).toDF("v", "k")
    MultiTxn.transact(wh, "s", "init")(_ => Map("good_name" -> df))
    val ex = intercept[IllegalArgumentException] {
      MultiTxn.stage(wh, "s", "audit-totals", df, 2, "w1")
    }
    assert(ex.getMessage.contains("audit-totals"))
    intercept[IllegalArgumentException] {
      MultiTxn.transact(wh, "s", "w2")(_ => Map("audit-totals" -> df))
    }
    // the catalog stayed intact through both rejections
    val s = MultiTxn.snapshot(wh, "s")
    assert(MultiTxn.read(wh, "s", s, "good_name").count() == 1)
  }
}
