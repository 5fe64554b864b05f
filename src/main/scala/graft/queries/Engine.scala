package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ci.{IncrementalCI, TableCopier}
import graft.core._
import graft.operators.Layout
import graft.sources.{Catalog, Seed}

/** SURVEY.md §2.B — the dbt-engine core (materializations, snapshots,
  * CI clone, seeds, DAG runs) exercised end-to-end as verifiable
  * queries: each entry builds a scratch parquet warehouse, runs two
  * materialization batches (the incremental path), and returns the
  * final table for the DuckDB oracle to reproduce with plain SQL.
  *
  * Reference semantics matched:
  *  - watermark append: models/staging/stg_enrollments_incremental.sql:19-21
  *  - unique_key merge: models/marts/core/student_enrollment_history_incremental.sql:24-26
  *  - CI clone:         src/dbt_incremental_ci/copier.py:110-284
  *  - state:modified+:  src/dbt_incremental_ci/dbt_helper.py:29-162
  */
object Engine {

  private def q(name: String, oracle: String)(
      f: (SparkSession, String) => DataFrame): Q =
    Q(name, f, Some(oracle.stripMargin.trim))

  private def rowsOnly(name: String)(f: (SparkSession, String) => DataFrame): Q =
    Q(name, f, None)

  private def dbl(c: Column): Column = c.cast(DoubleType)
  private def decTotal(c: Column): Column = c.cast(DecimalType(14, 2))
  private val cutoff = lit("1996-07-01").cast(TimestampType)

  /** orders slimmed to the columns the m-queries materialize. */
  private def ordersSrc(c: Catalog): DataFrame =
    c.orders.select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")

  // ---------------------------------------------------------------
  // m01 — incremental append with watermark predicate: batch 1 loads
  // history < cutoff, batch 2 offers the full source and only rows
  // past the target's max watermark are appended.
  val m01: Q = q("m01_incremental_append",
    """WITH b1 AS (SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice
      |            FROM orders WHERE o_orderdate < TIMESTAMP '1996-07-01'),
      |     mx AS (SELECT MAX(o_orderdate) AS m FROM b1)
      |SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice FROM b1
      |UNION ALL
      |SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice FROM orders, mx
      |WHERE o_orderdate > mx.m
      |ORDER BY o_orderkey""") { (spark, dir) =>
    val c = Catalog(spark, dir)
    val wh = Warehouse.scratch(spark, "m01")
    val mat = Materializer(wh)
    val model = Model("orders_inc", Seq("orders"),
      Materialization.Incremental(IncrementalStrategy.Append("o_orderdate")),
      ctx => ctx.source("orders"))
    mat.run(model, _ => ordersSrc(c).filter(col("o_orderdate") < cutoff))
    mat.run(model, _ => ordersSrc(c)).orderBy("o_orderkey")
  }

  // m02 — unique_key merge: batch 2 re-delivers every 10th order with
  // a bumped price; merged rows win over their batch-1 versions.
  val m02: Q = q("m02_incremental_merge",
    """SELECT o_orderkey, o_custkey,
      |  CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 1000.0 ELSE o_totalprice END AS o_totalprice,
      |  CASE WHEN o_orderkey % 10 = 0 THEN 2 ELSE 1 END AS batch
      |FROM orders ORDER BY o_orderkey""") { (spark, dir) =>
    val c = Catalog(spark, dir)
    val wh = Warehouse.scratch(spark, "m02")
    val mat = Materializer(wh)
    val model = Model("orders_merge", Seq("orders"),
      Materialization.Incremental(
        IncrementalStrategy.Merge(Seq("o_orderkey"), Some("batch"))),
      ctx => ctx.source("orders"))
    val base = c.orders.select(col("o_orderkey"), col("o_custkey"),
      col("o_totalprice"), lit(1).as("batch"))
    val updates = c.orders.filter(col("o_orderkey") % 10 === 0)
      .select(col("o_orderkey"), col("o_custkey"),
        (col("o_totalprice") + 1000.0).as("o_totalprice"), lit(2).as("batch"))
    mat.run(model, _ => base)
    mat.run(model, _ => updates).orderBy("o_orderkey")
  }

  // m03 — insert_overwrite: batch 2 rewrites ONLY the 1997+ year
  // partitions (dynamic partition overwrite = per-partition metadata
  // swap, no full-table rewrite).
  val m03: Q = q("m03_insert_overwrite",
    """SELECT o_orderkey, o_custkey,
      |  CASE WHEN EXTRACT(YEAR FROM o_orderdate) >= 1997 THEN o_totalprice * 0.9 ELSE o_totalprice END AS o_totalprice,
      |  CASE WHEN EXTRACT(YEAR FROM o_orderdate) >= 1997 THEN 2 ELSE 1 END AS batch,
      |  CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS order_year
      |FROM orders ORDER BY o_orderkey""") { (spark, dir) =>
    val c = Catalog(spark, dir)
    val wh = Warehouse.scratch(spark, "m03")
    val mat = Materializer(wh)
    val model = Model("orders_byyear", Seq("orders"),
      Materialization.Incremental(
        IncrementalStrategy.InsertOverwrite(Seq("order_year"))),
      ctx => ctx.source("orders"))
    def shaped(df: DataFrame, batch: Int): DataFrame = df.select(
      col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
      lit(batch).as("batch"), year(col("o_orderdate")).as("order_year"))
    val b1 = shaped(c.orders, 1)
    val b2 = shaped(c.orders.filter(year(col("o_orderdate")) >= 1997), 2)
      .withColumn("o_totalprice", col("o_totalprice") * 0.9)
    mat.run(model, _ => b1)
    mat.run(model, _ => b2).orderBy("o_orderkey")
  }

  // m04 — SCD2 snapshot (timestamp strategy): run 1 captures each
  // customer's latest-order state before the cutoff, run 2 the current
  // state; changed keys close their old version and open a new one.
  val m04: Q = q("m04_snapshot_scd2",
    """WITH s1 AS (
      |  SELECT o_custkey, o_orderdate AS updated_at, o_totalprice AS price
      |  FROM (SELECT o_custkey, o_orderdate, o_totalprice,
      |          ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      |        FROM orders WHERE o_orderdate < TIMESTAMP '1996-07-01') WHERE rn = 1),
      |s2 AS (
      |  SELECT o_custkey, o_orderdate AS updated_at, o_totalprice AS price
      |  FROM (SELECT o_custkey, o_orderdate, o_totalprice,
      |          ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      |        FROM orders) WHERE rn = 1)
      |SELECT s1.o_custkey, s1.updated_at, s1.price, s1.updated_at AS valid_from,
      |       CASE WHEN s2.updated_at > s1.updated_at THEN s2.updated_at END AS valid_to,
      |       NOT (s2.updated_at > s1.updated_at) AS is_current
      |FROM s1 JOIN s2 ON s1.o_custkey = s2.o_custkey
      |UNION ALL
      |SELECT s2.o_custkey, s2.updated_at, s2.price, s2.updated_at,
      |       CAST(NULL AS TIMESTAMP), TRUE
      |FROM s2 LEFT JOIN s1 ON s1.o_custkey = s2.o_custkey
      |WHERE s1.o_custkey IS NULL OR s2.updated_at > s1.updated_at
      |ORDER BY o_custkey, valid_from""") { (spark, dir) =>
    val c = Catalog(spark, dir)
    val wh = Warehouse.scratch(spark, "m04")
    val mat = Materializer(wh)
    val model = Model("cust_snapshot", Seq("orders"),
      Materialization.Snapshot(Seq("o_custkey"), "updated_at"),
      ctx => latestPerCust(ctx.source("orders")))
    mat.run(model, _ => ordersSrc(c).filter(col("o_orderdate") < cutoff))
    mat.run(model, _ => ordersSrc(c))
      .select("o_custkey", "updated_at", "price", "valid_from", "valid_to", "is_current")
      .orderBy("o_custkey", "valid_from")
  }

  /** Latest order state per customer (deterministic tiebreak). */
  private def latestPerCust(df: DataFrame): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .select(col("o_custkey"), col("o_orderdate").as("updated_at"),
        col("o_totalprice").as("price"))
  }

  // m10 — SCD2 snapshot, CHECK strategy: a new version opens when the
  // checked column's VALUE changes (not its timestamp), stamped with
  // the run's injected capture time.
  val m10: Q = q("m10_snapshot_check",
    """WITH s1 AS (
      |  SELECT o_custkey, o_totalprice AS price
      |  FROM (SELECT o_custkey, o_totalprice,
      |          ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      |        FROM orders WHERE o_orderdate < TIMESTAMP '1996-07-01') WHERE rn = 1),
      |s2 AS (
      |  SELECT o_custkey, o_totalprice AS price
      |  FROM (SELECT o_custkey, o_totalprice,
      |          ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      |        FROM orders) WHERE rn = 1)
      |SELECT s1.o_custkey, s1.price, TIMESTAMP '1996-07-01' AS valid_from,
      |       CASE WHEN s2.price <> s1.price THEN TIMESTAMP '1998-01-01' END AS valid_to,
      |       NOT (s2.price <> s1.price) AS is_current
      |FROM s1 JOIN s2 ON s1.o_custkey = s2.o_custkey
      |UNION ALL
      |SELECT s2.o_custkey, s2.price, TIMESTAMP '1998-01-01',
      |       CAST(NULL AS TIMESTAMP), TRUE
      |FROM s2 LEFT JOIN s1 ON s1.o_custkey = s2.o_custkey
      |WHERE s1.o_custkey IS NULL OR s2.price <> s1.price
      |ORDER BY o_custkey, valid_from""") { (spark, dir) =>
    val c = Catalog(spark, dir)
    val wh = Warehouse.scratch(spark, "m10")
    def state(df: DataFrame) = latestPerCust(df).select("o_custkey", "price")
    Snapshot.captureCheck(wh, "snap", "cust",
      state(ordersSrc(c).filter(col("o_orderdate") < cutoff)),
      Seq("o_custkey"), Seq("price"), "1996-07-01")
    Snapshot.captureCheck(wh, "snap", "cust", state(ordersSrc(c)),
      Seq("o_custkey"), Seq("price"), "1998-01-01")
    wh.read("snap", "cust").orderBy("o_custkey", "valid_from")
  }

  // m05 — on_schema_change=append_new_columns: batch 2 arrives with a
  // new column; prior rows read NULL for it (back-filled rewrite on
  // plain parquet ≙ metadata-only ADD COLUMNS on a lakehouse format).
  val m05: Q = q("m05_schema_evolution",
    """WITH b1 AS (SELECT o_orderkey, o_orderdate, o_totalprice
      |            FROM orders WHERE o_orderdate < TIMESTAMP '1996-07-01'),
      |     mx AS (SELECT MAX(o_orderdate) AS m FROM b1)
      |SELECT o_orderkey, o_orderdate, o_totalprice, CAST(NULL AS VARCHAR) AS o_orderpriority FROM b1
      |UNION ALL
      |SELECT o_orderkey, o_orderdate, o_totalprice, o_orderpriority FROM orders, mx
      |WHERE o_orderdate > mx.m
      |ORDER BY o_orderkey""") { (spark, dir) =>
    val c = Catalog(spark, dir)
    val wh = Warehouse.scratch(spark, "m05")
    val mat = Materializer(wh)
    val model = Model("orders_evolving", Seq("orders"),
      Materialization.Incremental(IncrementalStrategy.Append("o_orderdate")),
      ctx => ctx.source("orders"),
      onSchemaChange = OnSchemaChange.AppendNewColumns)
    val b1 = c.orders.filter(col("o_orderdate") < cutoff)
      .select("o_orderkey", "o_orderdate", "o_totalprice")
    val b2 = c.orders
      .select("o_orderkey", "o_orderdate", "o_totalprice", "o_orderpriority")
    mat.run(model, _ => b1)
    mat.run(model, _ => b2).orderBy("o_orderkey")
  }

  // m06 — state:modified+ selection. One staging model's body
  // changes; the closure pulls in its downstream incrementals +
  // snapshot, and clone targets filter to exactly those (views/tables
  // rebuild from scratch in CI). The selection over this fixed graph
  // is fully deterministic driver-side math, so the oracle is the
  // literal verdict matrix (same discipline as t09) — hash-gated, on
  // top of the EngineSpec graph-semantics coverage.
  val m06: Q = q("m06_state_modified",
    """SELECT * FROM (VALUES
      |  ('int_ab',   false, true,  true),
      |  ('int_c',    false, false, false),
      |  ('mart_all', false, true,  true),
      |  ('snap_b',   false, true,  true),
      |  ('stg_a',    false, false, false),
      |  ('stg_b',    true,  true,  false),
      |  ('stg_c',    false, false, false))
      |  AS t(model_name, directly_modified, in_closure, clone_target)
      |ORDER BY model_name""") { (spark, _) =>
    def graphWith(bodyB: String): ModelGraph = {
      def m(name: String, deps: Seq[String], mat: Materialization,
          body: String): Model =
        Model(name, deps, mat, _ => spark.emptyDataFrame, body = body)
      val inc = Materialization.Incremental(
        IncrementalStrategy.Merge(Seq("k"), None))
      ModelGraph(Seq(
        m("stg_a", Nil, Materialization.View, "select 1"),
        m("stg_b", Nil, Materialization.View, bodyB),
        m("stg_c", Nil, Materialization.View, "select 3"),
        m("int_ab", Seq("stg_a", "stg_b"), inc, "join ab"),
        m("int_c", Seq("stg_c"), Materialization.Table, "agg c"),
        m("snap_b", Seq("stg_b"),
          Materialization.Snapshot(Seq("k"), "ts"), "snapshot b"),
        m("mart_all", Seq("int_ab", "int_c"),
          Materialization.Incremental(IncrementalStrategy.Append("ts")), "mart")))
    }
    val oldState = ManifestState.of(graphWith("select 2"))
    val current = graphWith("select 2 /* reworked */")
    val sel = IncrementalCI.select(current, oldState)
    val rows = current.models.map(m => (m.name,
      sel.directlyModified.contains(m.name),
      sel.closure.contains(m.name),
      sel.cloneTargets.contains(m.name))).sortBy(_._1)
    spark.createDataFrame(rows)
      .toDF("model_name", "directly_modified", "in_closure", "clone_target")
      .orderBy("model_name")
  }

  // m07 — CI clone: seed a "prod" schema from the catalog, clone all
  // four tables into prod_ci on a 4-thread pool, report per-table rows.
  val m07: Q = q("m07_ci_clone",
    """SELECT * FROM (
      |  SELECT 'customer' AS table_name, 'prod_ci' AS target_schema,
      |         (SELECT COUNT(*) FROM customer) AS n_rows, 'copied' AS status
      |  UNION ALL SELECT 'nation', 'prod_ci', (SELECT COUNT(*) FROM nation), 'copied'
      |  UNION ALL SELECT 'region', 'prod_ci', (SELECT COUNT(*) FROM region), 'copied'
      |  UNION ALL SELECT 'supplier', 'prod_ci', (SELECT COUNT(*) FROM supplier), 'copied'
      |) ORDER BY table_name""") { (spark, dir) =>
    val c = Catalog(spark, dir)
    val wh = Warehouse.scratch(spark, "m07")
    for (t <- Seq("customer", "nation", "region", "supplier"))
      wh.write(c.table(t), "prod", t)
    val results = TableCopier(wh, parallelism = 4)
      .copyAll("prod", Seq("customer", "nation", "region", "supplier"), "ci")
    spark.createDataFrame(
        results.map(r => (r.table, r.targetSchema, r.rows, r.status)))
      .toDF("table_name", "target_schema", "n_rows", "status")
      .orderBy("table_name")
  }

  // m08 — CSV seed with an explicit typed schema.
  val m08: Q = q("m08_seed",
    """SELECT grade, CAST(points AS DOUBLE) AS points, CAST(min_pct AS INT) AS min_pct
      |FROM (VALUES ('A',4.0,90),('B',3.0,80),('C',2.0,70),('D',1.0,60),('F',0.0,0)) t(grade, points, min_pct)
      |ORDER BY grade""") { (spark, _) =>
    Seed.fromString(spark, Seed.gradeScaleCsv, StructType(Seq(
        StructField("grade", StringType),
        StructField("points", DoubleType),
        StructField("min_pct", IntegerType))))
      .orderBy("grade")
  }

  // m09 — topological DAG run producing a mart: 2 staging views feed
  // an intermediate table feeding a mart (views stay lazy, so the
  // whole pipeline is 2 physical writes). Oracle = the same pipeline
  // as chained CTEs.
  val m09: Q = q("m09_run_dag",
    """WITH stg_orders AS (
      |  SELECT o_orderkey, o_custkey, CAST(o_totalprice AS DECIMAL(14,2)) AS tp
      |  FROM orders WHERE o_orderstatus = 'F'),
      |int_cust_spend AS (
      |  SELECT o_custkey, COUNT(*) AS n_orders, SUM(tp) AS spend
      |  FROM stg_orders GROUP BY o_custkey)
      |SELECT c_mktsegment, c_nationkey, COUNT(*) AS n_buyers,
      |  CAST(SUM(n_orders) AS BIGINT) AS n_orders,
      |  CAST(SUM(spend) AS DOUBLE) AS revenue
      |FROM customer JOIN int_cust_spend ON c_custkey = o_custkey
      |GROUP BY c_mktsegment, c_nationkey
      |ORDER BY c_mktsegment, c_nationkey""") { (spark, dir) =>
    val c = Catalog(spark, dir)
    val wh = Warehouse.scratch(spark, "m09")
    val outputs = Runner(Materializer(wh), c.table).runAll(m09Graph)
    outputs("mart_segment_nation").orderBy("c_mktsegment", "c_nationkey")
  }

  /** m09's 4-model pipeline — shared with m25 (docs/catalog over the
    * same run's persisted tables).
    */
  private def m09Graph: ModelGraph = ModelGraph(Seq(
    Model("stg_orders", Seq("orders"), Materialization.View,
      ctx => ctx.source("orders").filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_custkey"),
          decTotal(col("o_totalprice")).as("tp"))),
    Model("stg_customer", Seq("customer"), Materialization.View,
      ctx => ctx.source("customer")
        .select("c_custkey", "c_nationkey", "c_mktsegment")),
    Model("int_cust_spend", Seq("stg_orders"), Materialization.Table,
      ctx => ctx.ref("stg_orders").groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"), sum(col("tp")).as("spend"))),
    Model("mart_segment_nation", Seq("stg_customer", "int_cust_spend"),
      Materialization.Table,
      ctx => ctx.ref("stg_customer")
        .join(ctx.ref("int_cust_spend"),
          col("c_custkey") === col("o_custkey"))
        .groupBy("c_mktsegment", "c_nationkey")
        .agg(count(lit(1)).as("n_buyers"),
          sum(col("n_orders")).cast(LongType).as("n_orders"),
          dbl(sum(col("spend"))).as("revenue")))))

  // m11 — the reference's raison d'être, end-to-end: prod runs the
  // DAG on the first batch; a staging model's body changes; CI diffs
  // the manifest, expands to the modified+ closure, clones ONLY the
  // incremental clone-targets' prod state into the _ci schema, and
  // runs the selected models there — the incremental model appends
  // just the new rows on top of its clone, then the mart rebuilds.
  // (reference: src/dbt_incremental_ci/core.py orchestration +
  // dbt_helper.py:29-162 + copier.py:110-284)
  val m11: Q = q("m11_incremental_ci",
    """WITH b1 AS (SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice
      |            FROM orders WHERE o_orderdate < TIMESTAMP '1996-07-01'),
      |     mx AS (SELECT MAX(o_orderdate) AS m FROM b1),
      |     stg AS (SELECT o_orderkey, o_custkey, o_totalprice FROM b1
      |             UNION ALL
      |             SELECT o_orderkey, o_custkey, o_totalprice + 999.0 FROM orders, mx
      |             WHERE o_orderdate > mx.m)
      |SELECT c_mktsegment, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS revenue
      |FROM stg JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""") { (spark, dir) =>
    val c = Catalog(spark, dir)
    val wh = Warehouse.scratch(spark, "m11")
    def graphWith(stgBody: String): ModelGraph = ModelGraph(Seq(
      Model("stg_orders_inc", Seq("orders"),
        Materialization.Incremental(IncrementalStrategy.Append("o_orderdate")),
        ctx => ctx.source("orders")
          .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"),
        body = stgBody),
      Model("mart_segment_spend", Seq("stg_orders_inc", "customer"),
        Materialization.Table,
        ctx => ctx.ref("stg_orders_inc")
          .join(ctx.source("customer"), col("o_custkey") === col("c_custkey"))
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n_orders"),
            dbl(sum(decTotal(col("o_totalprice")))).as("revenue")),
        body = "mart v1")))

    // 1. prod run on batch 1; the manifest is PERSISTED as a warehouse
    //    artifact (<root>/_artifacts/manifest.json) and read back for
    //    the diff — the same handoff a real CI run does against the
    //    last successful prod manifest.
    val prodGraph = graphWith("stg v1")
    val prodSources: String => DataFrame = {
      case "orders" => c.orders.filter(col("o_orderdate") < cutoff)
      case other => c.table(other)
    }
    Runner(Materializer(wh), prodSources).runAll(prodGraph)
    ManifestState.save(wh, ManifestState.of(prodGraph))
    val manifest = ManifestState.load(wh).get

    // 2. the staging model changes; detect -> closure -> clone targets
    val ciGraphBase = graphWith("stg v2 /* watermark predicate reworked */")
    val sel = IncrementalCI.select(ciGraphBase, manifest)
    val copier = TableCopier(wh, parallelism = 2)
    copier.copyAll("analytics", sel.cloneTargets, "ci")

    // 3. CI run of the selected closure in the _ci schema. The CI
    //    batch carries DIFFERENT prices (+999) than prod: only rows
    //    past the clone's watermark may show them — the oracle's hash
    //    fails if CI rebuilt from scratch instead of appending onto
    //    the cloned prod state.
    val ciGraph = ModelGraph(ciGraphBase.models.map(m =>
      if (sel.closure.contains(m.name)) m.copy(schemaSuffix = Some("ci")) else m))
    val ciOrder = ciGraph.topoOrder.filter(sel.closure.contains)
    val ciSources: String => DataFrame = {
      case "orders" =>
        c.orders.withColumn("o_totalprice", col("o_totalprice") + 999.0)
      case other => c.table(other)
    }
    val outputs = Runner(Materializer(wh), ciSources)
      .runSelected(ciGraph, ciOrder)
    outputs("mart_segment_spend").orderBy("c_mktsegment")
  }

  // m12 — the CLI's reference-scale demo DAG (43 models: 19 hash-slice
  // staging views -> 19 per-slice aggregate tables -> rollup + marts +
  // one incremental), materialized end-to-end by the same Runner the
  // CLI drives, with the final mart oracle-gated. Runs at threads=4
  // (dbt --threads): the 19 independent int_spend_* tables build
  // concurrently — identical outputs to sequential (MainSpec pins
  // this), measurably lower wall time. The oracle exploits that the
  // 19 slices PARTITION orders: the slice union re-aggregates to a
  // plain per-customer rollup.
  val m12: Q = q("m12_demo_dag",
    """WITH spend AS (
      |  SELECT o_custkey, COUNT(*) AS n_orders,
      |         SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS spend
      |  FROM orders GROUP BY o_custkey)
      |SELECT c_mktsegment, COUNT(*) AS n_buyers,
      |  CAST(SUM(n_orders) AS BIGINT) AS n_orders,
      |  CAST(SUM(spend) AS DOUBLE) AS spend
      |FROM customer JOIN spend ON c_custkey = o_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""") { (spark, dir) =>
    val c = Catalog(spark, dir)
    val wh = Warehouse.scratch(spark, "m12")
    // threads=8 from the round-11 ProbeAudit sweep (sf0.1, warmed):
    // sequential 7.9 s, 4 threads 3.1 s, 8 threads 2.1 s — the
    // 19-wide intermediate layer keeps submitter threads fed well
    // past 4; beyond 8 the 4-level critical path dominates
    val outs = Runner(Materializer(wh), c.table, threads = 8)
      .runAll(graft.cli.DemoProject.graph(19))
    outs("mart_segment_spend")
      .select(col("c_mktsegment"), col("n_buyers"), col("n_orders"),
        dbl(col("spend")).as("spend"))
      .orderBy("c_mktsegment")
  }

  // m13 — calendar seeds consumed by a model: the two reference
  // date-dimension seed shapes (seeds/semester_calendar.csv,
  // seeds/academic_calendar_holidays.csv) loaded as typed seed DAG
  // nodes, then a mart range-joins orders into semester windows and
  // flags class-affecting holiday orders. The 9-row term dim and
  // 12-row holiday dim broadcast (a nested-loop range join against a
  // driver-size dim is the right plan — no shuffle of the fact side);
  // the single source for both the CSVs and the oracle's VALUES is
  // Seed.semesterTerms/calendarHolidays, so seed and oracle cannot
  // drift.
  private def m13OracleSql: String = {
    val semRows = Seed.semesterTerms.map { t =>
      s"('${t._1}','${t._2}','${t._3}',DATE '${t._4}',DATE '${t._5}')"
    }.mkString(",")
    val holRows = Seed.calendarHolidays.map { h =>
      s"('${h._1}',DATE '${h._2}','${h._3}')"
    }.mkString(",")
    s"""WITH sem(semester_name, academic_year, semester_type, start_date, end_date) AS (VALUES $semRows),
       |hol(holiday_name, holiday_date, affects_classes) AS (VALUES $holRows),
       |o AS (SELECT o_orderkey, o_totalprice, CAST(o_orderdate AS DATE) AS od FROM orders)
       |SELECT academic_year, semester_name, COUNT(*) AS n_orders,
       |  CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS revenue,
       |  CAST(SUM(CASE WHEN h.holiday_date IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_holiday_orders
       |FROM o JOIN sem ON od BETWEEN start_date AND end_date
       |LEFT JOIN (SELECT holiday_date FROM hol WHERE affects_classes = 'Yes') h
       |  ON od = h.holiday_date
       |GROUP BY academic_year, semester_name
       |ORDER BY academic_year, semester_name""".stripMargin
  }

  val m13: Q = q("m13_calendar_model", m13OracleSql) { (spark, dir) =>
    val c = Catalog(spark, dir)
    val wh = Warehouse.scratch(spark, "m13")
    val semSchema = StructType(Seq(
      StructField("semester_name", StringType),
      StructField("academic_year", StringType),
      StructField("semester_type", StringType),
      StructField("start_date", DateType),
      StructField("end_date", DateType)))
    val holSchema = StructType(Seq(
      StructField("holiday_name", StringType),
      StructField("holiday_date", DateType),
      StructField("affects_classes", StringType)))
    val graph = ModelGraph(Seq(
      Model("semester_calendar", Nil, Materialization.Table,
        _ => Seed.fromString(spark, Seed.semesterCalendarCsv, semSchema)),
      Model("calendar_holidays", Nil, Materialization.Table,
        _ => Seed.fromString(spark, Seed.calendarHolidaysCsv, holSchema)),
      Model("mart_term_orders", Seq("semester_calendar", "calendar_holidays"),
        Materialization.Table,
        ctx => {
          val od = ctx.source("orders").select(col("o_orderkey"),
            col("o_totalprice"), col("o_orderdate").cast(DateType).as("od"))
          val terms = ctx.ref("semester_calendar")
          val hol = ctx.ref("calendar_holidays")
            .filter(col("affects_classes") === "Yes")
            .select(col("holiday_date"))
          od.join(broadcast(terms),
              col("od").between(col("start_date"), col("end_date")))
            .join(broadcast(hol), col("od") === col("holiday_date"), "left")
            .groupBy("academic_year", "semester_name")
            .agg(count(lit(1)).as("n_orders"),
              dbl(sum(decTotal(col("o_totalprice")))).as("revenue"),
              sum(when(col("holiday_date").isNotNull, 1L).otherwise(0L))
                .as("n_holiday_orders"))
        })))
    Runner(Materializer(wh), c.table).runAll(graph)("mart_term_orders")
      .orderBy("academic_year", "semester_name")
  }

  // m14 — partition-scoped merge (dbt incremental_predicates /
  // lakehouse MERGE with partition pruning): the target is stored
  // partitioned by order_year; batch 2 re-delivers a key subset of
  // 1997 only, so the merge reads and rewrites ONLY the 1997
  // partition — at 100 TB a one-partition batch costs one partition,
  // not a full-table copy-on-write (EngineSpec additionally pins that
  // untouched partition FILES are byte-identical after the merge).
  val m14: Q = q("m14_merge_partitioned",
    """SELECT o_orderkey, o_custkey,
      |  CASE WHEN EXTRACT(YEAR FROM o_orderdate) = 1997 AND o_orderkey % 3 = 0
      |       THEN o_totalprice + 500.0 ELSE o_totalprice END AS o_totalprice,
      |  CASE WHEN EXTRACT(YEAR FROM o_orderdate) = 1997 AND o_orderkey % 3 = 0
      |       THEN 2 ELSE 1 END AS batch,
      |  CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS order_year
      |FROM orders ORDER BY o_orderkey""") { (spark, dir) =>
    val c = Catalog(spark, dir)
    val wh = Warehouse.scratch(spark, "m14")
    val mat = Materializer(wh)
    val model = Model("orders_part_merge", Seq("orders"),
      Materialization.Incremental(IncrementalStrategy.Merge(
        Seq("o_orderkey"), Some("batch"), partitionBy = Seq("order_year"))),
      ctx => ctx.source("orders"))
    def shaped(df: DataFrame, batch: Int): DataFrame = df.select(
      col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
      lit(batch).as("batch"), year(col("o_orderdate")).as("order_year"))
    val b1 = shaped(c.orders, 1)
    val b2 = shaped(c.orders.filter(
        year(col("o_orderdate")) === 1997 && col("o_orderkey") % 3 === 0), 2)
      .withColumn("o_totalprice", col("o_totalprice") + 500.0)
    mat.run(model, _ => b1)
    mat.run(model, _ => b2)
      .select("o_orderkey", "o_custkey", "o_totalprice", "batch", "order_year")
      .orderBy("o_orderkey")
  }

  // m15 — delete+insert incremental strategy (dbt's other unique_key
  // strategy): batch 2 re-delivers every 10th order SPLIT INTO TWO
  // half-price line rows. Merge would collapse the pair to one row;
  // delete+insert deletes the key's old row and inserts BOTH — key
  // multiplicity is the batch's, which is the whole point of the
  // strategy. Physically: one anti-join on the key (batch key set
  // broadcasts when small) + the append, copy-on-write staged swap.
  val m15: Q = q("m15_delete_insert",
    """SELECT o_orderkey, line, o_totalprice, batch FROM (
      |  SELECT o_orderkey, 1 AS line, o_totalprice, 1 AS batch
      |  FROM orders WHERE o_orderkey % 10 <> 0
      |  UNION ALL
      |  SELECT o_orderkey, l AS line, o_totalprice * 0.5 AS o_totalprice, 2 AS batch
      |  FROM orders, (VALUES (1), (2)) AS t(l) WHERE o_orderkey % 10 = 0)
      |ORDER BY o_orderkey, line""") { (spark, dir) =>
    val c = Catalog(spark, dir)
    val wh = Warehouse.scratch(spark, "m15")
    val mat = Materializer(wh)
    val model = Model("orders_di", Seq("orders"),
      Materialization.Incremental(
        IncrementalStrategy.DeleteInsert(Seq("o_orderkey"))),
      ctx => ctx.source("orders"))
    val b1 = c.orders.select(col("o_orderkey"), lit(1).as("line"),
      col("o_totalprice"), lit(1).as("batch"))
    val redelivered = c.orders.filter(col("o_orderkey") % 10 === 0)
    val b2 = Seq(1, 2).map(l => redelivered.select(col("o_orderkey"),
      lit(l).as("line"), (col("o_totalprice") * 0.5).as("o_totalprice"),
      lit(2).as("batch"))).reduce(_ unionByName _)
    mat.run(model, _ => b1)
    mat.run(model, _ => b2).orderBy("o_orderkey", "line")
  }

  // m16 — microbatch incremental (dbt 1.9 `microbatch`): the table is
  // maintained per event-time month; run 2's batch recomputes ONLY
  // the months from (newest existing month - 1 lookback) forward —
  // the boundary month is healed for late arrivals, genuinely new
  // months append, and every older month is untouched (still batch 1
  // in the output). Each recomputed month is its own
  // dynamic-partition-overwrite job, dbt's per-batch retry unit, and
  // the month filter pushes into that batch's scan. Run 2 delivers a
  // recent 3-month slice, which is what an incremental batch IS — a
  // full-history replay through the per-period path would serialize
  // one job per month of history (and the jobs must stay sequential
  // on plain parquet: concurrent FileOutputCommitter commits against
  // one table path share _temporary; dbt's concurrent_batches needs a
  // lakehouse commit protocol).
  val m16: Q = q("m16_microbatch",
    """WITH mx AS (SELECT date_trunc('month', MAX(o_orderdate)) AS m
      |            FROM orders WHERE o_orderdate < TIMESTAMP '1996-07-01')
      |SELECT o_orderkey, o_custkey, o_totalprice,
      |  CAST(date_trunc('month', o_orderdate) AS DATE) AS order_month,
      |  CASE WHEN date_trunc('month', o_orderdate) >= m - INTERVAL 1 MONTH
      |       THEN 2 ELSE 1 END AS batch
      |FROM orders, mx WHERE o_orderdate < TIMESTAMP '1996-10-01'
      |ORDER BY o_orderkey""") { (spark, dir) =>
    val c = Catalog(spark, dir)
    val wh = Warehouse.scratch(spark, "m16")
    val mat = Materializer(wh)
    val model = Model("orders_mb", Seq("orders"),
      Materialization.Incremental(
        IncrementalStrategy.Microbatch("order_month", lookback = 1)),
      ctx => ctx.source("orders"))
    def shaped(df: DataFrame, batch: Int): DataFrame = df.select(
      col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
      date_trunc("month", col("o_orderdate")).cast(DateType).as("order_month"),
      lit(batch).as("batch"))
    val horizon = lit("1996-10-01").cast(TimestampType)
    mat.run(model, _ => shaped(c.orders.filter(col("o_orderdate") < cutoff), 1))
    mat.run(model, _ => shaped(c.orders.filter(col("o_orderdate") < horizon), 2))
      .select("o_orderkey", "o_custkey", "o_totalprice", "order_month", "batch")
      .orderBy("o_orderkey")
  }

  // m17 — OPTIMIZE / small-file compaction (Delta OPTIMIZE, Iceberg
  // rewrite_data_files): a year-partitioned orders table is written
  // deliberately fragmented (8 files per partition — the shape
  // micro-batch ingest leaves behind), compacted toward 512 MB files
  // (→ exactly one per partition at any test SF), and read back. The
  // oracle reproduces the CONTENT from the raw source, so the gate
  // proves compaction is a pure layout change; the file-count
  // mechanics (before > after, skip-when-compact, crash-safe swap)
  // are pinned in EngineSpec.
  val m17: Q = q("m17_compaction",
    """SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS order_year,
      |  COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS total
      |FROM orders GROUP BY 1 ORDER BY 1""") { (spark, dir) =>
    val c = Catalog(spark, dir)
    val wh = Warehouse.scratch(spark, "m17")
    val src = c.orders.select(col("o_orderkey"), col("o_totalprice"),
      year(col("o_orderdate")).as("order_year"))
    wh.write(src.repartition(8), "analytics", "orders_frag",
      partitionBy = Seq("order_year"))
    Compaction.compact(wh, "analytics", "orders_frag",
      nPartCols = 1, targetBytes = 512L * 1024 * 1024)
    wh.read("analytics", "orders_frag")
      .groupBy("order_year")
      .agg(count(lit(1)).as("n_orders"),
        dbl(sum(decTotal(col("o_totalprice")))).as("total"))
      .orderBy("order_year")
  }

  // m18 — source/sink FORMAT breadth: the same orders slice written
  // to and read back from ORC, JSON, and CSV (parquet is the native
  // path everywhere else; CSV-with-schema is also the seed loader's
  // mechanism). Read-back uses the writer's schema explicitly — the
  // production discipline (schema inference on JSON/CSV is a full
  // extra scan AND a correctness hazard at 100 TB). The oracle gates
  // each format's roundtrip on count + exact decimal sum; row-level
  // fidelity is pinned in EngineSpec.
  val m18: Q = q("m18_format_roundtrip",
    """SELECT fmt, n_rows, total FROM (
      |  SELECT 'csv' AS fmt, COUNT(*) AS n_rows,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS total FROM orders
      |  UNION ALL SELECT 'json', COUNT(*),
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) FROM orders
      |  UNION ALL SELECT 'orc', COUNT(*),
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) FROM orders
      |) ORDER BY fmt""") { (spark, dir) =>
    val c = Catalog(spark, dir)
    val wh = Warehouse.scratch(spark, "m18")
    val src = ordersSrc(c)
    val root = wh.path("analytics", "fmt")
    src.write.mode("overwrite").orc(s"$root/orc")
    src.write.mode("overwrite").json(s"$root/json")
    src.write.mode("overwrite").option("header", "true").csv(s"$root/csv")
    def summary(df: DataFrame, fmt: String): DataFrame =
      df.agg(count(lit(1)).as("n_rows"),
          dbl(sum(decTotal(col("o_totalprice")))).as("total"))
        .select(lit(fmt).as("fmt"), col("n_rows"), col("total"))
    summary(spark.read.schema(src.schema)
        .option("header", "true").csv(s"$root/csv"), "csv")
      .unionByName(summary(
        spark.read.schema(src.schema).json(s"$root/json"), "json"))
      .unionByName(summary(spark.read.orc(s"$root/orc"), "orc"))
      .orderBy("fmt")
  }

  // m19 — dbt's opt-in `invalidate_hard_deletes`: a key that VANISHES
  // from the source is closed out (valid_to = run stamp, not current)
  // with no replacement version, composing with the check-strategy
  // change detection in the SAME capture. Run 2 drops every 5th
  // customer (the churn) and bumps every 3rd's price (the change), so
  // all three row fates — carried / changed / hard-deleted — and the
  // changed∧deleted overlap (custkey % 15) materialize in one pass.
  // Same single full-outer-join shuffle as m04/m10; the hard-delete
  // adds only a null-check on the source side of that join.
  val m19: Q = q("m19_snapshot_hard_delete",
    """WITH s1 AS (
      |  SELECT o_custkey, o_totalprice AS price
      |  FROM (SELECT o_custkey, o_totalprice,
      |          ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      |        FROM orders) WHERE rn = 1)
      |SELECT o_custkey, price, TIMESTAMP '1996-07-01' AS valid_from,
      |       CASE WHEN o_custkey % 5 = 0 OR o_custkey % 3 = 0
      |            THEN TIMESTAMP '1998-01-01' END AS valid_to,
      |       (o_custkey % 5 <> 0 AND o_custkey % 3 <> 0) AS is_current
      |FROM s1
      |UNION ALL
      |SELECT o_custkey, price + 100, TIMESTAMP '1998-01-01',
      |       CAST(NULL AS TIMESTAMP), TRUE
      |FROM s1 WHERE o_custkey % 5 <> 0 AND o_custkey % 3 = 0
      |ORDER BY o_custkey, valid_from""") { (spark, dir) =>
    val c = Catalog(spark, dir)
    val wh = Warehouse.scratch(spark, "m19")
    val state0 = latestPerCust(ordersSrc(c)).select("o_custkey", "price")
    val state1 = state0.filter(col("o_custkey") % 5 =!= 0)
      .withColumn("price",
        when(col("o_custkey") % 3 === 0, col("price") + 100)
          .otherwise(col("price")))
    Snapshot.captureCheck(wh, "snap", "cust_hd", state0,
      Seq("o_custkey"), Seq("price"), "1996-07-01",
      invalidateHardDeletes = true)
    Snapshot.captureCheck(wh, "snap", "cust_hd", state1,
      Seq("o_custkey"), Seq("price"), "1998-01-01",
      invalidateHardDeletes = true)
    wh.read("snap", "cust_hd").orderBy("o_custkey", "valid_from")
  }

  // ---------------------------------------------------------------
  // m20 — dbt unit tests (dbt-core 1.8 `unit_tests:`): a model's
  // transform runs against MOCKED inputs (literal fixture rows, dbt
  // YAML `given:`) and its output multiset-diffs against `expect:`
  // rows — model logic tested in isolation, nothing materialized.
  // Two cases over one aggregate model: a passing expectation and a
  // deliberately wrong one the diff must catch (missing=1 +
  // unexpected=1: dbt reports BOTH sides of a mismatched row). The
  // oracle replays the fixtures as VALUES and the diff as EXCEPT ALL.
  val m20: Q = q("m20_unit_test",
    """WITH g AS (SELECT * FROM (VALUES
      |    ('1996-01-01', 10), ('1996-01-01', 5), ('1996-01-02', 7),
      |    ('1996-01-02', 1), ('1996-01-03', 4)) t(day, amount)),
      |a AS (SELECT day, COUNT(*) AS n_orders, CAST(SUM(amount) AS BIGINT) AS revenue
      |      FROM g GROUP BY day),
      |e1 AS (SELECT * FROM (VALUES
      |    ('1996-01-01', CAST(2 AS BIGINT), CAST(15 AS BIGINT)),
      |    ('1996-01-02', CAST(2 AS BIGINT), CAST(8 AS BIGINT)),
      |    ('1996-01-03', CAST(1 AS BIGINT), CAST(4 AS BIGINT))) t(day, n_orders, revenue)),
      |e2 AS (SELECT * FROM (VALUES
      |    ('1996-01-01', CAST(2 AS BIGINT), CAST(15 AS BIGINT)),
      |    ('1996-01-02', CAST(2 AS BIGINT), CAST(9 AS BIGINT)),
      |    ('1996-01-03', CAST(1 AS BIGINT), CAST(4 AS BIGINT))) t(day, n_orders, revenue)),
      |c1 AS (SELECT
      |    (SELECT COUNT(*) FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM e1)) AS u,
      |    (SELECT COUNT(*) FROM (SELECT * FROM e1 EXCEPT ALL SELECT * FROM a)) AS m),
      |c2 AS (SELECT
      |    (SELECT COUNT(*) FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM e2)) AS u,
      |    (SELECT COUNT(*) FROM (SELECT * FROM e2 EXCEPT ALL SELECT * FROM a)) AS m)
      |SELECT case_name, model, status, n_unexpected, n_missing FROM (
      |  SELECT 'aggregates_per_day' AS case_name, 'mart_daily_rev' AS model,
      |         CASE WHEN u + m = 0 THEN 'pass' ELSE 'fail' END AS status,
      |         CAST(u AS BIGINT) AS n_unexpected, CAST(m AS BIGINT) AS n_missing FROM c1
      |  UNION ALL
      |  SELECT 'caught_regression', 'mart_daily_rev',
      |         CASE WHEN u + m = 0 THEN 'pass' ELSE 'fail' END,
      |         CAST(u AS BIGINT), CAST(m AS BIGINT) FROM c2)
      |ORDER BY case_name""") { (spark, dir) =>
    import spark.implicits._
    val graph = ModelGraph(Seq(
      Model("stg_orders", Nil, Materialization.View,
        ctx => ctx.source("orders")),
      Model("mart_daily_rev", Seq("stg_orders"), Materialization.Table,
        ctx => ctx.ref("stg_orders")
          .groupBy("day")
          .agg(count(lit(1)).as("n_orders"),
            sum("amount").as("revenue")))))
    val fixture = Seq(("1996-01-01", 10L), ("1996-01-01", 5L),
      ("1996-01-02", 7L), ("1996-01-02", 1L), ("1996-01-03", 4L))
      .toDF("day", "amount")
    val pass = Seq(("1996-01-01", 2L, 15L), ("1996-01-02", 2L, 8L),
      ("1996-01-03", 1L, 4L)).toDF("day", "n_orders", "revenue")
    val regress = Seq(("1996-01-01", 2L, 15L), ("1996-01-02", 2L, 9L),
      ("1996-01-03", 1L, 4L)).toDF("day", "n_orders", "revenue")
    UnitTester.report(spark, graph, Seq(
        UnitTester.UnitCase("aggregates_per_day", "mart_daily_rev",
          Map("stg_orders" -> fixture), pass),
        UnitTester.UnitCase("caught_regression", "mart_daily_rev",
          Map("stg_orders" -> fixture), regress)),
      fallback = Catalog(spark, dir).table)
      .orderBy("case_name")
  }

  // ---------------------------------------------------------------
  // m21 — dbt model contracts (`contract: enforced: true`): the
  // model's OUTPUT schema validates against declared per-column
  // data types BEFORE materializing — a drifted shape fails the
  // build, nothing writes. The entry builds a contracted model
  // (enforcement passes in-line in the Runner), then reports the
  // per-column verdicts for the conforming contract AND for a
  // drifted one (type change + rename) against the materialized
  // schema — both diff sides of the contract check in one report.
  // Oracle-gated (information-schema style): the verdict matrix is a
  // pure function of the declared contracts and the materialized
  // parquet schema, so DuckDB reproduces it as a VALUES relation — a
  // drifted enforcement rule, catalog type rename, or schema change
  // in the materialized model all surface as a hash mismatch.
  // EngineSpec additionally pins that a violating contracted model
  // refuses to build.
  val m21: Q = q("m21_contract",
    """SELECT * FROM (VALUES
      |  ('drift_detected','o_custkey','bigint','bigint','ok'),
      |  ('drift_detected','o_orderkey','int','bigint','type_mismatch'),
      |  ('drift_detected','o_total','double','<absent>','missing'),
      |  ('drift_detected','o_totalprice','<undeclared>','double','unexpected'),
      |  ('enforced_build','o_custkey','bigint','bigint','ok'),
      |  ('enforced_build','o_orderkey','bigint','bigint','ok'),
      |  ('enforced_build','o_totalprice','double','double','ok')
      |) t(contract_case, "column", expected, actual, status)
      |ORDER BY contract_case, "column", status""") { (spark, dir) =>
    val c = Catalog(spark, dir)
    val wh = Warehouse.scratch(spark, "m21")
    val good = Contract.of("o_orderkey" -> LongType,
      "o_custkey" -> LongType, "o_totalprice" -> DoubleType)
    val graph = ModelGraph(Seq(
      Model("mart_orders", Nil, Materialization.Table,
        ctx => ctx.source("orders")
          .select("o_orderkey", "o_custkey", "o_totalprice"),
        contract = Some(good))))
    Runner(Materializer(wh), c.table).runAll(graph)
    val schema = wh.read("analytics", "mart_orders").schema
    // the drift scenario: one type change, one rename — yields a
    // type_mismatch, a missing, and an unexpected verdict
    val drifted = Contract.of("o_orderkey" -> IntegerType,
      "o_custkey" -> LongType, "o_total" -> DoubleType)
    import spark.implicits._
    (good.check(schema).map(("enforced_build", _)) ++
      drifted.check(schema).map(("drift_detected", _)))
      .map { case (cse, (cn, exp, act, st)) => (cse, cn, exp, act, st) }
      .toDF("contract_case", "column", "expected", "actual", "status")
      .orderBy("contract_case", "column", "status")
  }

  // ---------------------------------------------------------------
  // m22 — dbt retry: the first run dies mid-DAG (a planted failure in
  // the third node), the retry resumes from the journal — upstream
  // tables that completed are SKIPPED (resolved from the warehouse),
  // only the failed node and its downstream cone execute. The entry
  // runs exactly that fail-then-retry sequence and returns the final
  // mart, which the oracle reproduces as one straight-through SQL
  // dataflow — the retry leaves no trace in the result, only in the
  // work (skip behavior + journal lifecycle pinned in EngineSpec).
  val m22: Q = q("m22_retry",
    """WITH t1 AS (SELECT o_custkey, COUNT(*) AS n_orders,
      |        SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS spend
      |      FROM orders GROUP BY 1),
      |t2 AS (SELECT * FROM t1 WHERE n_orders >= 5)
      |SELECT n_orders, COUNT(*) AS n_custs,
      |  CAST(SUM(spend) AS DOUBLE) AS spend
      |FROM t2 GROUP BY 1 ORDER BY 1""") { (spark, dir) =>
    val c = Catalog(spark, dir)
    val wh = Warehouse.scratch(spark, "m22")
    @volatile var boom = true
    val graph = ModelGraph(Seq(
      Model("stg_orders", Nil, Materialization.View,
        ctx => ctx.source("orders")
          .select("o_custkey", "o_totalprice")),
      Model("int_cust", Seq("stg_orders"), Materialization.Table,
        ctx => ctx.ref("stg_orders")
          .groupBy("o_custkey")
          .agg(count(lit(1)).as("n_orders"),
            sum(decTotal(col("o_totalprice"))).as("spend"))),
      Model("int_active", Seq("int_cust"), Materialization.Table,
        ctx => {
          if (boom) throw new RuntimeException("planted mid-run failure")
          ctx.ref("int_cust").filter(col("n_orders") >= 5)
        }),
      Model("mart_order_profile", Seq("int_active"), Materialization.Table,
        ctx => ctx.ref("int_active")
          .groupBy("n_orders")
          .agg(count(lit(1)).as("n_custs"), dbl(sum("spend")).as("spend")))))
    val mat = Materializer(wh)
    try { Retry.run(graph, mat, c.table, wh); () }
    catch { case _: RuntimeException => () }
    boom = false
    Retry.run(graph, mat, c.table, wh)
    wh.read("analytics", "mart_order_profile").orderBy("n_orders")
  }

  // m23 — external JDBC warehouse: prod state lives in a real
  // database (embedded Derby here — the same `spark.read.jdbc` path
  // speaks postgresql/redshift/trino through one URI), the CI clone
  // runs IN-DATABASE (drop + CTAS per dialect; rows never transit
  // Spark — the reference copier's clone, copier.py:106-157) into
  // the suffix-mapped CI schema (`prod_marts` → `prod_ci_marts`,
  // preserving the custom suffix past the base schema,
  // copier.py:38-64), and the cloned table is read back through a
  // PARTITIONED jdbc scan (bounds query + range predicates — the
  // piece that keeps an external-warehouse read data-parallel on a
  // cluster). Oracle = the nation table itself: a wrong clone, a
  // broken suffix map, or a lossy type round-trip all surface as a
  // hash mismatch.
  val m23: Q = q("m23_jdbc_warehouse",
    """SELECT n_nationkey, n_name, n_regionkey FROM nation
      |ORDER BY n_nationkey""") { (spark, dir) =>
    val c = Catalog(spark, dir)
    val jdbc = graft.sources.JdbcWarehouse(spark,
      s"jdbc:derby:${Scratch.dir("m23")}/db;create=true")
    jdbc.write(c.nation.select("n_nationkey", "n_name", "n_regionkey"),
      "prod_marts", "nation")
    val copier = graft.sources.JdbcCopier(jdbc, "prod_ci",
      baseSchema = Some("prod"))
    val results = copier.cloneAll("prod_marts", Seq("nation"))
    require(results.forall(_.status == "copied"),
      s"jdbc clone failed: ${results.map(r => s"${r.table}=${r.status}").mkString(",")}")
    jdbc.read("prod_ci_marts", "nation",
        partitionColumn = Some("n_nationkey"), numPartitions = 4)
      .select(col("n_nationkey").cast(IntegerType), col("n_name"),
        col("n_regionkey").cast(IntegerType))
      .orderBy("n_nationkey")
  }

  // m24 — Z-ORDER layout + min/max file skipping (Delta `OPTIMIZE
  // ZORDER BY` / Iceberg sort-order analogue): events rewritten
  // z-ordered on (user_id, event_id) into 16 files, then a 2-D range
  // query is answered through the per-file min/max manifest — only
  // files whose envelope overlaps BOTH ranges are opened (EngineSpec
  // pins that files actually prune and that the pruned read equals
  // the full scan bit-for-bit; a LINEAR layout under the same query
  // prunes on one dimension only, also pinned). The oracle replays
  // the query against the raw table: layout must never change query
  // results, only which files are touched.
  val m24: Q = q("m24_zorder_layout",
    """SELECT event_type, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
      |FROM events
      |WHERE user_id BETWEEN 2 AND 6 AND event_id BETWEEN 100 AND 799
      |GROUP BY 1 ORDER BY 1""") { (spark, dir) =>
    val c = Catalog(spark, dir)
    val root = s"${Scratch.dir("m24")}/events_z"
    Layout.writeZOrdered(
      c.events.select("event_id", "user_id", "event_type", "value"),
      root, "user_id", "event_id", nFiles = 16)
    val stats = Layout.fileStats(spark, root, Seq("user_id", "event_id"))
    Layout.prunedRead(spark, root, stats,
        Seq(("user_id", 2L, 6L), ("event_id", 100L, 799L)))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        dbl(sum(col("value").cast(DecimalType(18, 6)))).as("total_value"))
      .orderBy("event_type")
  }

  // m25 — `dbt docs generate`: the catalog artifact over a run's
  // PERSISTED relations (views recompose lazily — nothing in the
  // warehouse to document, exactly dbt's catalog scope). m09's
  // pipeline runs, then each table is profiled in ONE aggregation
  // pass (count(*) + per-column count/count-distinct fold into a
  // single agg via Expand — one scan per table regardless of column
  // count); the catalog is one row per column, metadata-sized at any
  // data volume, and also serializes to the catalog.json-shaped
  // artifact via Docs.toJson (CLI `docs` subcommand). The oracle
  // rebuilds the same pipeline as CTEs and profiles with the same
  // counts — declared dtypes are literal on both sides.
  val m25: Q = q("m25_docs_catalog",
    """WITH stg_orders AS (
      |  SELECT o_orderkey, o_custkey, CAST(o_totalprice AS DECIMAL(14,2)) AS tp
      |  FROM orders WHERE o_orderstatus = 'F'),
      |int_cust_spend AS (
      |  SELECT o_custkey, COUNT(*) AS n_orders, SUM(tp) AS spend
      |  FROM stg_orders GROUP BY o_custkey),
      |mart AS (
      |  SELECT c_mktsegment, c_nationkey, COUNT(*) AS n_buyers,
      |    CAST(SUM(n_orders) AS BIGINT) AS n_orders,
      |    CAST(SUM(spend) AS DOUBLE) AS revenue
      |  FROM customer JOIN int_cust_spend ON c_custkey = o_custkey
      |  GROUP BY c_mktsegment, c_nationkey),
      |p1 AS (SELECT COUNT(*) AS n,
      |  COUNT(o_custkey) AS nn1, COUNT(DISTINCT o_custkey) AS nd1,
      |  COUNT(n_orders) AS nn2, COUNT(DISTINCT n_orders) AS nd2,
      |  COUNT(spend) AS nn3, COUNT(DISTINCT spend) AS nd3 FROM int_cust_spend),
      |p2 AS (SELECT COUNT(*) AS n,
      |  COUNT(c_mktsegment) AS nn1, COUNT(DISTINCT c_mktsegment) AS nd1,
      |  COUNT(c_nationkey) AS nn2, COUNT(DISTINCT c_nationkey) AS nd2,
      |  COUNT(n_buyers) AS nn3, COUNT(DISTINCT n_buyers) AS nd3,
      |  COUNT(n_orders) AS nn4, COUNT(DISTINCT n_orders) AS nd4,
      |  COUNT(revenue) AS nn5, COUNT(DISTINCT revenue) AS nd5 FROM mart)
      |SELECT * FROM (
      |  SELECT 'int_cust_spend' AS table_name, 'o_custkey' AS column_name,
      |    'bigint' AS dtype, n AS n_rows, n - nn1 AS n_nulls, nd1 AS n_distinct FROM p1
      |  UNION ALL SELECT 'int_cust_spend', 'n_orders', 'bigint', n, n - nn2, nd2 FROM p1
      |  UNION ALL SELECT 'int_cust_spend', 'spend', 'decimal(24,2)', n, n - nn3, nd3 FROM p1
      |  UNION ALL SELECT 'mart_segment_nation', 'c_mktsegment', 'string', n, n - nn1, nd1 FROM p2
      |  UNION ALL SELECT 'mart_segment_nation', 'c_nationkey', 'int', n, n - nn2, nd2 FROM p2
      |  UNION ALL SELECT 'mart_segment_nation', 'n_buyers', 'bigint', n, n - nn3, nd3 FROM p2
      |  UNION ALL SELECT 'mart_segment_nation', 'n_orders', 'bigint', n, n - nn4, nd4 FROM p2
      |  UNION ALL SELECT 'mart_segment_nation', 'revenue', 'double', n, n - nn5, nd5 FROM p2
      |) ORDER BY table_name, column_name""") { (spark, dir) =>
    val c = Catalog(spark, dir)
    val wh = Warehouse.scratch(spark, "m25")
    Runner(Materializer(wh), c.table).runAll(m09Graph)
    val cat = Docs.forSchema(wh, "analytics")
    wh.saveArtifact("catalog.json", Docs.toJson(cat))
    cat
  }

  // m26 — dbt `incremental_predicates`: a row-level DEST-side filter
  // on the merge. Only target rows satisfying the predicate enter the
  // key-matching shuffle; every other target row is carried through
  // untouched — INCLUDING rows that share a key with the batch, dbt's
  // documented footgun, which the oracle encodes on purpose: keys
  // %7==0 with o_orderdate before the predicate cutoff end up with
  // BOTH their old batch-1 row (unscanned) and the new batch-2 row
  // (merge-inserted). At 100 TB the predicate is what keeps a
  // "last 7 days" merge from shuffling seven years of target.
  val m26: Q = q("m26_incremental_predicates",
    """SELECT o_orderkey, o_orderdate, o_totalprice, batch FROM (
      |  SELECT o_orderkey, o_orderdate, o_totalprice, 1 AS batch
      |  FROM orders
      |  WHERE NOT (o_orderkey % 7 = 0 AND o_orderdate >= TIMESTAMP '1997-01-01')
      |  UNION ALL
      |  SELECT o_orderkey, o_orderdate, o_totalprice * 0.5 AS o_totalprice, 2 AS batch
      |  FROM orders WHERE o_orderkey % 7 = 0)
      |ORDER BY o_orderkey, batch""") { (spark, dir) =>
    val c = Catalog(spark, dir)
    val wh = Warehouse.scratch(spark, "m26")
    val mat = Materializer(wh)
    val predCutoff = lit("1997-01-01").cast(TimestampType)
    val model = Model("orders_pred", Seq("orders"),
      Materialization.Incremental(IncrementalStrategy.Merge(
        Seq("o_orderkey"), None,
        predicate = Some(col("o_orderdate") >= predCutoff))),
      ctx => ctx.source("orders"))
    val base = c.orders.select(col("o_orderkey"), col("o_orderdate"),
      col("o_totalprice"))
    mat.run(model, _ => base.withColumn("batch", lit(1)))
    val b2 = base.filter(col("o_orderkey") % 7 === 0)
      .withColumn("o_totalprice", col("o_totalprice") * 0.5)
      .withColumn("batch", lit(2))
    mat.run(model, _ => b2).orderBy("o_orderkey", "batch")
  }

  // m27 — dbt node SELECTORS: the `--select`/`--exclude` mini-language
  // (graph operators +/@, tag: method, name wildcards, space-union,
  // comma-intersection) the reference's hard-coded `state:modified+`
  // is one point in. Like m06, selection over a fixed graph is
  // deterministic driver-side math, so the oracle is the literal
  // verdict matrix — every selector's full selected set, hand-derived
  // from dbt-core's documented semantics. Selection cost is O(graph
  // nodes), never O(data): the same 38-row answer on any cluster.
  val m27: Q = q("m27_node_selectors",
    """SELECT * FROM (VALUES
      |  ('+mart_y', 'int_ab'), ('+mart_y', 'int_bc'), ('+mart_y', 'mart_y'),
      |  ('+mart_y', 'stg_a'), ('+mart_y', 'stg_b'), ('+mart_y', 'stg_c'),
      |  ('+mart_y --exclude tag:staging', 'int_ab'),
      |  ('+mart_y --exclude tag:staging', 'int_bc'),
      |  ('+mart_y --exclude tag:staging', 'mart_y'),
      |  ('@mart_x', 'int_ab'), ('@mart_x', 'mart_x'),
      |  ('@mart_x', 'stg_a'), ('@mart_x', 'stg_b'),
      |  ('stg_*', 'stg_a'), ('stg_*', 'stg_b'), ('stg_*', 'stg_c'),
      |  ('stg_a stg_c+', 'audit_y'), ('stg_a stg_c+', 'int_bc'),
      |  ('stg_a stg_c+', 'mart_y'), ('stg_a stg_c+', 'stg_a'),
      |  ('stg_a stg_c+', 'stg_c'),
      |  ('stg_b+', 'audit_y'), ('stg_b+', 'int_ab'), ('stg_b+', 'int_bc'),
      |  ('stg_b+', 'mart_x'), ('stg_b+', 'mart_y'), ('stg_b+', 'stg_b'),
      |  ('stg_b+,tag:mart', 'mart_x'), ('stg_b+,tag:mart', 'mart_y'),
      |  ('tag:nightly', 'int_bc'), ('tag:nightly', 'mart_y'),
      |  ('tag:nightly', 'stg_a'),
      |  ('tag:nightly+', 'audit_y'), ('tag:nightly+', 'int_ab'),
      |  ('tag:nightly+', 'int_bc'), ('tag:nightly+', 'mart_x'),
      |  ('tag:nightly+', 'mart_y'), ('tag:nightly+', 'stg_a'),
      |  ('selector:marts_world', 'audit_y'), ('selector:marts_world', 'int_ab'),
      |  ('selector:marts_world', 'int_bc'), ('selector:marts_world', 'mart_x'),
      |  ('selector:marts_world', 'mart_y'), ('selector:marts_world', 'stg_a'),
      |  ('selector:marts_world', 'stg_b'), ('selector:marts_world', 'stg_c'),
      |  ('selector:nightly_children', 'audit_y'),
      |  ('selector:nightly_children', 'int_ab'),
      |  ('selector:nightly_children', 'int_bc'),
      |  ('selector:nightly_children', 'mart_x'),
      |  ('selector:nightly_children', 'mart_y'),
      |  ('selector:nightly_children', 'stg_a'),
      |  ('selector:nightly_marts', 'mart_x'), ('selector:nightly_marts', 'mart_y'),
      |  ('selector:no_staging', 'int_ab'), ('selector:no_staging', 'int_bc'),
      |  ('selector:no_staging', 'mart_y'))
      |  AS t(selector, model_name)
      |ORDER BY selector, model_name""") { (spark, _) =>
    def m(name: String, deps: Seq[String], tags: Seq[String]): Model =
      Model(name, deps, Materialization.View,
        _ => spark.emptyDataFrame, tags = tags)
    val g = ModelGraph(Seq(
      m("stg_a", Nil, Seq("staging", "nightly")),
      m("stg_b", Nil, Seq("staging")),
      m("stg_c", Nil, Seq("staging")),
      m("int_ab", Seq("stg_a", "stg_b"), Seq("intermediate")),
      m("int_bc", Seq("stg_b", "stg_c"), Seq("intermediate", "nightly")),
      m("mart_x", Seq("int_ab"), Seq("mart")),
      m("mart_y", Seq("int_ab", "int_bc"), Seq("mart", "nightly")),
      m("audit_y", Seq("mart_y"), Seq("audit"))))
    val cases: Seq[(String, String, Option[String])] = Seq(
      ("stg_b+", "stg_b+", None),
      ("+mart_y", "+mart_y", None),
      ("@mart_x", "@mart_x", None),
      ("tag:nightly", "tag:nightly", None),
      ("tag:nightly+", "tag:nightly+", None),
      ("stg_*", "stg_*", None),
      ("stg_b+,tag:mart", "stg_b+,tag:mart", None),
      ("stg_a stg_c+", "stg_a stg_c+", None),
      ("+mart_y --exclude tag:staging", "+mart_y", Some("tag:staging")))
    val rows = cases.flatMap { case (label, spec, exclude) =>
      Selector.select(g, spec, exclude).toSeq.sorted.map(label -> _)
    }
    // NAMED selectors (selectors.yml + dbt --selector): the persisted
    // definitions resolve through the SAME select() call as the
    // inline specs above, so their matrix rows extend the same oracle
    val selectorsYml =
      """selectors:
        |  - name: nightly_children
        |    description: everything downstream of the nightly tag
        |    definition: "tag:nightly+"
        |  - name: no_staging
        |    definition: "+mart_y"
        |    exclude:
        |      - "tag:staging"
        |  - name: marts_world
        |    definition:
        |      union:
        |        - "@mart_x"
        |        - "stg_c+"
        |  - name: nightly_marts
        |    definition:
        |      intersection:
        |        - "stg_b+"
        |        - "tag:mart"
        |""".stripMargin
    val named = Selector.parseSelectorsYaml(selectorsYml)
    val namedRows = named.keys.toSeq.sorted.flatMap(n =>
      Selector.selectNamed(g, named, n).toSeq.sorted
        .map(s"selector:$n" -> _))
    spark.createDataFrame(rows ++ namedRows).toDF("selector", "model_name")
      .orderBy("selector", "model_name")
  }

  // m28 — warehouse VACUUM: the janitor every copy-on-write store
  // needs (Delta VACUUM / Iceberg remove_orphan_files). The staged
  // swap (m17/m02's commit path) can die mid-flight and leave
  // `.__tmp` stages and `.__old` backups; the sweep classifies each —
  // never-committed stage: delete; stale backup beside a live table:
  // delete; backup that is the ONLY copy (interrupted swap): HEAL,
  // never delete. The entry plants all three residue shapes plus a
  // clean table and reports the sweep; like m06/m27 the verdicts over
  // a fixed fixture are deterministic driver-side classification, so
  // the oracle is the literal matrix. Cost is O(#dir entries)
  // metadata ops — no data IO at any warehouse size.
  val m28: Q = q("m28_vacuum",
    """SELECT * FROM (VALUES
      |  ('t_crashed', 'staged_tmp', 'deleted', false),
      |  ('t_half', 'interrupted_swap', 'healed', true),
      |  ('t_stale', 'stale_backup', 'deleted', true))
      |  AS t(table_name, kind, action, live_after)
      |ORDER BY table_name""") { (spark, dir) =>
    val c = Catalog(spark, dir)
    val wh = Warehouse.scratch(spark, "m28")
    val nation = c.nation
    wh.write(nation, "prod", "t_clean")
    // stale backup beside a live table (completed swap, crash before
    // backup drop)
    wh.write(nation, "prod", "t_stale")
    wh.write(nation.limit(5), "prod", "t_stale.__old")
    // a stage that never committed
    wh.write(nation.limit(3), "prod", "t_crashed.__tmp")
    // an interrupted swap: backup only, no live dir
    wh.write(nation, "prod", "t_half.__old")
    val report = wh.vacuum()
    spark.createDataFrame(report.map(a =>
        (a.table, a.kind, a.action, wh.exists("prod", a.table))))
      .toDF("table_name", "kind", "action", "live_after")
      .orderBy("table_name")
  }

  // m29 — TIME TRAVEL: versioned snapshot reads over the manifest-
  // logged table (core/TimeTravel.scala — the Delta-log/Iceberg-
  // snapshot design on plain parquet). Three commits: v1 initial load
  // (pre-cutoff history), v2 APPEND of the rest (v1's files shared,
  // never rewritten — the metadata-cost-only commit), v3 corrective
  // OVERWRITE (outlier orders dropped). The query then reads ALL
  // THREE versions as-of and aggregates each — v1/v2 must still
  // answer exactly after v3 replaced the current state, which is the
  // whole contract. Oracle reproduces each snapshot from the raw
  // source with the equivalent filter; file-sharing and manifest
  // atomicity are pinned in EngineSpec.
  val m29: Q = q("m29_time_travel",
    """SELECT * FROM (
      |  SELECT 1 AS version, COUNT(*) AS n_rows,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS total
      |  FROM orders WHERE o_orderdate < TIMESTAMP '1996-07-01'
      |  UNION ALL SELECT 2, COUNT(*),
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE)
      |  FROM orders
      |  UNION ALL SELECT 3, COUNT(*),
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE)
      |  FROM orders WHERE o_totalprice <= CAST(300000 AS DOUBLE)
      |) ORDER BY version""") { (spark, dir) =>
    val c = Catalog(spark, dir)
    val wh = Warehouse.scratch(spark, "m29")
    val src = ordersSrc(c)
    TimeTravel.commit(wh, "analytics", "orders_tt",
      src.filter(col("o_orderdate") < cutoff), "overwrite")
    TimeTravel.commit(wh, "analytics", "orders_tt",
      src.filter(col("o_orderdate") >= cutoff), "append")
    TimeTravel.commit(wh, "analytics", "orders_tt",
      src.filter(col("o_totalprice") <= 300000.0), "overwrite")
    (1 to 3).map { v =>
      TimeTravel.read(wh, "analytics", "orders_tt", v)
        .agg(count(lit(1)).as("n_rows"),
          dbl(sum(decTotal(col("o_totalprice")))).as("total"))
        .select(lit(v).as("version"), col("n_rows"), col("total"))
    }.reduce(_ unionAll _).orderBy("version")
  }

  // m30 — SQL-TEXT models (core/SqlModel.scala): the reference's
  // actual authoring surface — dbt models are .sql files whose
  // {{ ref() }}/{{ source() }}/{{ this }}/{% if is_incremental() %}
  // calls define the DAG and the incremental predicate. A 3-model
  // pipeline written as SQL strings runs through the SAME Runner/
  // Materializer as Scala models: staging view → incremental append
  // whose watermark predicate lives in the SQL's is_incremental
  // block (`> (SELECT MAX(..) FROM {{ this }})` — safe on first
  // build because the block strips) → mart. Batch 2 PERTURBS every
  // pre-cutoff price by +999: those rows sit at or below the
  // watermark so a correct incremental run never reads them, and the
  // mart equals the plain full-source mart — a wrongly re-appending
  // or rebuilding engine surfaces the 999s and fails the hash.
  val m30: Q = q("m30_sql_models",
    """SELECT c_mktsegment, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS revenue
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""") { (spark, dir) =>
    val c = Catalog(spark, dir)
    val wh = Warehouse.scratch(spark, "m30")
    val graph = ModelGraph(Seq(
      SqlModel("stg_orders",
        """SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice
          |FROM {{ source('raw', 'orders') }}""".stripMargin),
      SqlModel("inc_orders",
        """SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice
          |FROM {{ ref('stg_orders') }}
          |{% if is_incremental() %}
          |WHERE o_orderdate > (SELECT MAX(o_orderdate) FROM {{ this }})
          |{% endif %}""".stripMargin,
        Materialization.Incremental(IncrementalStrategy.Append("o_orderdate"))),
      SqlModel("mart_segment",
        """SELECT c_mktsegment, COUNT(*) AS n_orders,
          |  CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS revenue
          |FROM {{ ref('inc_orders') }}
          |JOIN {{ source('raw', 'customer') }} ON o_custkey = c_custkey
          |GROUP BY c_mktsegment""".stripMargin,
        Materialization.Table)))
    val batch1: String => DataFrame = {
      case "orders" => c.orders.filter(col("o_orderdate") < cutoff)
      case n => c.table(n)
    }
    val batch2: String => DataFrame = {
      case "orders" => c.orders.withColumn("o_totalprice",
        when(col("o_orderdate") < cutoff, col("o_totalprice") + 999.0)
          .otherwise(col("o_totalprice")))
      case n => c.table(n)
    }
    Runner(Materializer(wh), batch1).runAll(graph)
    Runner(Materializer(wh), batch2).runAll(graph)("mart_segment")
      .orderBy("c_mktsegment")
  }

  // m31 — MERGE-ON-READ (core/MergeOnRead.scala — Iceberg v2 delete
  // files / Hudi MOR): the write-cheap complement to m02's
  // copy-on-write merge. Commits append O(batch) insert/delete logs
  // and never touch the base; the read pays one key-window over
  // base ∪ logs; compact() materializes the merged state as the new
  // base and truncates the logs. The entry drives base load →
  // upsert commit (post-cutoff inserts + every-10th pre-cutoff
  // re-priced) → delete commit (every 7th key tombstoned), then
  // aggregates the SAME state through the logged read AND after
  // compaction — both rows must agree with each other and the
  // oracle (compaction is a pure layout change, the m17 contract).
  val m31: Q = q("m31_merge_on_read",
    """WITH state AS (
      |  SELECT CASE WHEN o_orderkey % 10 = 0 AND o_orderdate < TIMESTAMP '1996-07-01'
      |              THEN o_totalprice + 999.0 ELSE o_totalprice END AS price
      |  FROM orders WHERE o_orderkey % 7 <> 0),
      |agg AS (SELECT COUNT(*) AS n_rows,
      |  CAST(SUM(CAST(price AS DECIMAL(14,2))) AS DOUBLE) AS total FROM state)
      |SELECT 'compacted' AS phase, n_rows, total FROM agg
      |UNION ALL SELECT 'logged', n_rows, total FROM agg
      |ORDER BY phase""") { (spark, dir) =>
    val c = Catalog(spark, dir)
    val wh = Warehouse.scratch(spark, "m31")
    val src = ordersSrc(c)
    MergeOnRead.init(wh, "analytics", "orders_mor",
      src.filter(col("o_orderdate") < cutoff))
    // commit 1: post-cutoff inserts + re-priced re-delivery of every
    // 10th pre-cutoff order (an update the base never sees)
    MergeOnRead.merge(wh, "analytics", "orders_mor",
      src.filter(col("o_orderdate") >= cutoff).unionByName(
        src.filter(col("o_orderdate") < cutoff &&
            col("o_orderkey") % 10 === 0)
          .withColumn("o_totalprice", col("o_totalprice") + 999.0)),
      "o_orderkey")
    // commit 2: bare deletes — every 7th key tombstones out
    MergeOnRead.merge(wh, "analytics", "orders_mor",
      src.filter(col("o_orderkey") % 7 === 0)
        .withColumn("__del", lit(true)),
      "o_orderkey", deleteCol = Some("__del"))
    def agg(df: DataFrame, phase: String): DataFrame =
      df.agg(count(lit(1)).as("n_rows"),
          dbl(sum(decTotal(col("o_totalprice")))).as("total"))
        .select(lit(phase).as("phase"), col("n_rows"), col("total"))
    val logged = agg(
      MergeOnRead.read(wh, "analytics", "orders_mor", "o_orderkey"), "logged")
      .localCheckpoint(eager = true) // freeze before compaction swaps the base
    MergeOnRead.compact(wh, "analytics", "orders_mor", "o_orderkey")
    agg(MergeOnRead.read(wh, "analytics", "orders_mor", "o_orderkey"),
        "compacted")
      .unionAll(logged).orderBy("phase")
  }

  // m32 — CHANGE DATA FEED (TimeTravel.changes — Delta
  // `table_changes` / Iceberg changelog): the row-level diff between
  // two committed snapshots, emitted as Delta CDF's four change
  // types (insert / delete / update_preimage / update_postimage —
  // updates carry BOTH rows so any derived state can be maintained).
  // One full-outer join on the key: the diff costs the two snapshot
  // scans plus one shuffle — the subscription primitive that lets an
  // incremental consumer ask "what changed since v1" instead of
  // re-reading 100 TB. v2 reshapes v1 three ways at once (every 7th
  // key deleted, every 10th survivor re-priced, every 13th key
  // copied in under a fresh id) and the oracle derives each change
  // class straight from the source predicates.
  val m32: Q = q("m32_change_data_feed",
    """SELECT * FROM (
      |  SELECT 'delete' AS change_type, COUNT(*) AS n_rows,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS total
      |  FROM orders WHERE o_orderkey % 7 = 0
      |  UNION ALL SELECT 'insert', COUNT(*),
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE)
      |  FROM orders WHERE o_orderkey % 13 = 0
      |  UNION ALL SELECT 'update_preimage', COUNT(*),
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE)
      |  FROM orders WHERE o_orderkey % 10 = 0 AND o_orderkey % 7 <> 0
      |  UNION ALL SELECT 'update_postimage', COUNT(*),
      |    CAST(SUM(CAST(o_totalprice + 999.0 AS DECIMAL(14,2))) AS DOUBLE)
      |  FROM orders WHERE o_orderkey % 10 = 0 AND o_orderkey % 7 <> 0
      |) ORDER BY change_type""") { (spark, dir) =>
    val c = Catalog(spark, dir)
    val wh = Warehouse.scratch(spark, "m32")
    val src = ordersSrc(c)
    val v2 = src.filter(col("o_orderkey") % 7 =!= 0)
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 10 === 0, col("o_totalprice") + 999.0)
          .otherwise(col("o_totalprice")))
      .unionByName(src.filter(col("o_orderkey") % 13 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + 1000000000L))
    TimeTravel.commit(wh, "analytics", "orders_cdf", src, "overwrite")
    TimeTravel.commit(wh, "analytics", "orders_cdf", v2, "overwrite")
    TimeTravel.changes(wh, "analytics", "orders_cdf", 1, 2, Seq("o_orderkey"))
      .groupBy("change_type")
      .agg(count(lit(1)).as("n_rows"),
        dbl(sum(decTotal(col("o_totalprice")))).as("total"))
      .orderBy("change_type")
  }

  // m33 — WRITE-AUDIT-PUBLISH (core/Wap.scala — Iceberg's WAP
  // pattern): quality checks run against the STAGED bytes and gate
  // the publish itself; a failing audit aborts with the previous
  // version untouched. Attempt 1 publishes clean; attempt 2 offers
  // the same slice with injected corruption (every 3rd price negated,
  // then every 5th key nulled — in that order, so the two violation
  // sets are independent) and must abort. The final report row
  // proves the live table still holds attempt 1's rows — the oracle
  // reproduces every count from the source predicates.
  val m33: Q = q("m33_write_audit_publish",
    """SELECT * FROM (
      |  SELECT 1 AS attempt, 'not_null_orderkey' AS check_name,
      |    CAST(0 AS BIGINT) AS n_violations, true AS published
      |  UNION ALL SELECT 1, 'price_non_negative', 0, true
      |  UNION ALL SELECT 2, 'not_null_orderkey',
      |    (SELECT COUNT(*) FROM orders
      |     WHERE o_orderdate < TIMESTAMP '1996-07-01' AND o_orderkey % 5 = 0),
      |    false
      |  UNION ALL SELECT 2, 'price_non_negative',
      |    (SELECT COUNT(*) FROM orders
      |     WHERE o_orderdate < TIMESTAMP '1996-07-01' AND o_orderkey % 3 = 0),
      |    false
      |  UNION ALL SELECT 99, 'published_rows',
      |    (SELECT COUNT(*) FROM orders
      |     WHERE o_orderdate < TIMESTAMP '1996-07-01'),
      |    true
      |) ORDER BY attempt, check_name""") { (spark, dir) =>
    val c = Catalog(spark, dir)
    val wh = Warehouse.scratch(spark, "m33")
    val slice = ordersSrc(c).filter(col("o_orderdate") < cutoff)
    val checks = Seq[(String, DataFrame => DataFrame)](
      "not_null_orderkey" -> (df => df.filter(col("o_orderkey").isNull)),
      "price_non_negative" -> (df => df.filter(col("o_totalprice") < 0)))
    val (ok1, r1) = Wap.publish(wh, "analytics", "orders_wap", slice, checks)
    val bad = slice
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 3 === 0, -(col("o_totalprice") + 1))
          .otherwise(col("o_totalprice")))
      .withColumn("o_orderkey",
        when(col("o_orderkey") % 5 === 0, lit(null).cast(LongType))
          .otherwise(col("o_orderkey")))
    val (ok2, r2) = Wap.publish(wh, "analytics", "orders_wap", bad, checks)
    val finalRows = wh.rowCount("analytics", "orders_wap")
    spark.createDataFrame(
        r1.map(a => (1, a.check, a.violations, ok1)) ++
        r2.map(a => (2, a.check, a.violations, ok2)) :+
        ((99, "published_rows", finalRows, true)))
      .toDF("attempt", "check_name", "n_violations", "published")
      .orderBy("attempt", "check_name")
  }

  // m34 — INCREMENTAL VIEW MAINTENANCE over the change feed: the
  // proof that m32's CDF is SUFFICIENT for downstream consumers. A
  // per-year mart is maintained from v1→v2 purely by applying signed
  // deltas (+1/+price for insert & update_postimage, −1/−price for
  // delete & update_preimage, aggregated per group — the
  // Materialize/DBSP z-set idea in one DataFrame) and must equal the
  // full recompute from v2 EXACTLY — counts in integers, money in
  // DECIMAL all the way, so maintained == recomputed is bitwise, not
  // approximate. At 100 TB this is the difference between touching
  // O(Δ) rows per refresh and rescanning the table; the oracle emits
  // the recomputed mart twice and both output halves must match it.
  val m34: Q = q("m34_incremental_view_maintenance",
    """WITH v2 AS (
      |  SELECT o_orderkey, o_orderdate,
      |    CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 999.0
      |         ELSE o_totalprice END AS price
      |  FROM orders WHERE o_orderkey % 7 <> 0
      |  UNION ALL
      |  SELECT o_orderkey + 1000000000, o_orderdate, o_totalprice
      |  FROM orders WHERE o_orderkey % 13 = 0),
      |mart AS (
      |  SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS order_year,
      |    COUNT(*) AS n_orders,
      |    CAST(SUM(CAST(price AS DECIMAL(14,2))) AS DOUBLE) AS total
      |  FROM v2 GROUP BY 1)
      |SELECT 'maintained' AS src, order_year, n_orders, total FROM mart
      |UNION ALL SELECT 'recomputed', order_year, n_orders, total FROM mart
      |ORDER BY src, order_year""") { (spark, dir) =>
    val c = Catalog(spark, dir)
    val wh = Warehouse.scratch(spark, "m34")
    val src = ordersSrc(c)
    val v2 = src.filter(col("o_orderkey") % 7 =!= 0)
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 10 === 0, col("o_totalprice") + 999.0)
          .otherwise(col("o_totalprice")))
      .unionByName(src.filter(col("o_orderkey") % 13 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + 1000000000L))
    TimeTravel.commit(wh, "analytics", "orders_ivm", src, "overwrite")
    TimeTravel.commit(wh, "analytics", "orders_ivm", v2, "overwrite")
    def mart(df: DataFrame): DataFrame =
      df.groupBy(year(col("o_orderdate")).as("order_year"))
        .agg(count(lit(1)).as("n_orders"),
          sum(decTotal(col("o_totalprice"))).as("total_dec"))
    val m1 = mart(TimeTravel.read(wh, "analytics", "orders_ivm", 1))
    val zero = lit(0).cast(DecimalType(14, 2))
    val delta = TimeTravel
      .changes(wh, "analytics", "orders_ivm", 1, 2, Seq("o_orderkey"))
      .withColumn("__sign",
        when(col("change_type").isin("insert", "update_postimage"), 1L)
          .otherwise(-1L))
      .groupBy(year(col("o_orderdate")).as("order_year"))
      .agg(sum(col("__sign")).as("dn"),
        sum(when(col("__sign") === 1L, decTotal(col("o_totalprice")))
          .otherwise(-decTotal(col("o_totalprice")))).as("dt"))
    val maintained = m1.join(delta, Seq("order_year"), "full_outer")
      .select(col("order_year"),
        (coalesce(col("n_orders"), lit(0L)) + coalesce(col("dn"), lit(0L)))
          .as("n_orders"),
        (coalesce(col("total_dec"), zero) + coalesce(col("dt"), zero))
          .as("total_dec"))
      .filter(col("n_orders") > 0)
    val recomputed = mart(TimeTravel.read(wh, "analytics", "orders_ivm", 2))
    def out(df: DataFrame, name: String): DataFrame =
      df.select(lit(name).as("src"),
        col("order_year").cast(IntegerType).as("order_year"),
        col("n_orders").cast(LongType).as("n_orders"),
        dbl(col("total_dec")).as("total"))
    out(maintained, "maintained").unionByName(out(recomputed, "recomputed"))
      .orderBy("src", "order_year")
  }

  // m35 — JINJA MACROS + var() IN SQL-TEXT MODELS (core/Jinja.scala):
  // the reference ships four {% macro %} files
  // (macros/grade_point_calculator.sql:1-19, macros/calculate_gpa.sql:1-15,
  // macros/academic_year_from_date.sql:1-8) that m30's plain SQL models
  // couldn't call — the last real dbt authoring gap. Here all three
  // are ported as SQL-TEXT macros (semantics mapped to TPC-H exactly
  // as q18/q19's Scala Columns: priority → points, academic-year
  // labels) and a two-model DAG authors WITH them: the staging model
  // grades orders through the point-calculator and filters through a
  // {{ var('min_year') }} bound by the run's vars (dbt --vars), the
  // mart aggregates through calculate_gpa (defaulted-none keyword
  // param → the non-windowed branch) + academic_year_from_date.
  // Expansion is parse-time string work; the rendered SQL reaches
  // Catalyst as one composed plan (views stay lazy), so the macro
  // layer costs NOTHING at any scale. The oracle restates the mart
  // with the macros hand-inlined — proving expansion, var binding,
  // and branch selection change no values. The macro-edit-trips-
  // checksum contract (dbt state:modified over macros) is pinned in
  // EngineSpec.
  val m35: Q = q("m35_sql_macros",
    """WITH g AS (
      |  SELECT CASE WHEN CAST(EXTRACT(MONTH FROM o_orderdate) AS INT) >= 8
      |      THEN CAST(CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS VARCHAR) || '-' ||
      |           CAST(CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) + 1 AS VARCHAR)
      |      ELSE CAST(CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) - 1 AS VARCHAR) || '-' ||
      |           CAST(CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS VARCHAR) END AS academic_year,
      |    c_mktsegment,
      |    CASE o_orderpriority WHEN '1-URGENT' THEN CAST('4.0' AS DECIMAL(3,1))
      |      WHEN '2-HIGH' THEN CAST('3.0' AS DECIMAL(3,1))
      |      WHEN '3-MEDIUM' THEN CAST('2.0' AS DECIMAL(3,1))
      |      WHEN '4-NOT SPECIFIED' THEN CAST('1.0' AS DECIMAL(3,1))
      |      WHEN '5-LOW' THEN CAST('0.0' AS DECIMAL(3,1)) END AS pts,
      |    CAST(o_totalprice AS DECIMAL(14,2)) AS w
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  WHERE CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) >= 1997)
      |SELECT academic_year, c_mktsegment,
      |  CAST(ROUND(CAST(SUM(pts * w) AS DOUBLE) / NULLIF(CAST(SUM(w) AS DOUBLE), 0.0), 2) AS DOUBLE) AS priority_gpa,
      |  COUNT(*) AS n_orders
      |FROM g GROUP BY academic_year, c_mktsegment
      |ORDER BY academic_year, c_mktsegment""") { (spark, dir) =>
    val c = Catalog(spark, dir)
    val wh = Warehouse.scratch(spark, "m35")
    val graph = ModelGraph(Seq(
      SqlModel("stg_graded_orders",
        """SELECT o_custkey, o_orderdate,
          |  {{ priority_point_calculator('o_orderpriority') }} AS pts,
          |  CAST(o_totalprice AS DECIMAL(14,2)) AS w
          |FROM {{ source('raw', 'orders') }}
          |WHERE CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) >= {{ var('min_year', 1990) }}""".stripMargin,
        macros = projectMacros, vars = Map("min_year" -> "1997")),
      SqlModel("mart_priority_gpa",
        """SELECT {{ academic_year_from_date('o.o_orderdate') }} AS academic_year,
          |  c.c_mktsegment,
          |  {{ calculate_gpa('o.pts', 'o.w') }} AS priority_gpa,
          |  COUNT(*) AS n_orders
          |FROM {{ ref('stg_graded_orders') }} o
          |JOIN {{ source('raw', 'customer') }} c ON o.o_custkey = c.c_custkey
          |GROUP BY 1, 2""".stripMargin,
        Materialization.Table, macros = projectMacros)))
    Runner(Materializer(wh), n => c.table(n))
      .runAll(graph)("mart_priority_gpa")
      .orderBy("academic_year", "c_mktsegment")
  }

  /** The reference's macro files, ported as SQL-text macro defs
    * (Spark SQL dialect: `::text` → CAST AS STRING; value mapping to
    * TPC-H as in functions/Macros.scala). Shared by m35 and the
    * EngineSpec macro-checksum tests.
    */
  val projectMacros: Seq[Jinja.MacroDef] = Jinja.parseMacros(
    """{% macro priority_point_calculator(priority_column) %}
      |case
      |  when {{ priority_column }} = '1-URGENT' then cast('4.0' as decimal(3,1))
      |  when {{ priority_column }} = '2-HIGH' then cast('3.0' as decimal(3,1))
      |  when {{ priority_column }} = '3-MEDIUM' then cast('2.0' as decimal(3,1))
      |  when {{ priority_column }} = '4-NOT SPECIFIED' then cast('1.0' as decimal(3,1))
      |  when {{ priority_column }} = '5-LOW' then cast('0.0' as decimal(3,1))
      |  else null
      |end
      |{% endmacro %}
      |
      |{% macro calculate_gpa(grade_points_column, credits_column, partition_by=none) %}
      |{% if partition_by %}
      |round(
      |  cast(sum({{ grade_points_column }} * {{ credits_column }}) over (partition by {{ partition_by }}) as double) /
      |  nullif(cast(sum({{ credits_column }}) over (partition by {{ partition_by }}) as double), 0.0D),
      |  2)
      |{% else %}
      |round(
      |  cast(sum({{ grade_points_column }} * {{ credits_column }}) as double) /
      |  nullif(cast(sum({{ credits_column }}) as double), 0.0D),
      |  2)
      |{% endif %}
      |{% endmacro %}
      |
      |{% macro academic_year_from_date(date_column) %}
      |case
      |  when extract(month from {{ date_column }}) >= 8 then
      |    cast(cast(extract(year from {{ date_column }}) as int) as string) || '-' ||
      |    cast(cast(extract(year from {{ date_column }}) as int) + 1 as string)
      |  else
      |    cast(cast(extract(year from {{ date_column }}) as int) - 1 as string) || '-' ||
      |    cast(cast(extract(year from {{ date_column }}) as int) as string)
      |end
      |{% endmacro %}""".stripMargin)

  // m36 — RUN LIFECYCLE HOOKS (core/Runner.scala Hook/RunHooks;
  // reference: DbtEducationalDataProject/dbt_project.yml on-run-start,
  // which bootstraps the raw_edu source DDL before any model runs):
  // an on-run-start hook materializes a fixture dim (year → era) into
  // the warehouse BEFORE the DAG executes, the models then source it
  // like any raw table — the DDL-bootstrap shape — and an on-run-end
  // hook audits the finished mart into a warehouse table the entry's
  // output includes, proving both hooks fired in order. Hooks journal
  // like models, so a crashed run's retry skips completed-and-
  // unchanged start hooks (pinned in EngineSpec). Hook actions are
  // driver-declared Spark jobs — nothing driver-side touches data.
  val m36: Q = q("m36_run_hooks",
    """WITH mart AS (
      |  SELECT CASE WHEN EXTRACT(YEAR FROM o_orderdate) >= 2000
      |           THEN 'focus' ELSE 'archive' END AS era,
      |    COUNT(*) AS n_orders,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS revenue
      |  FROM orders GROUP BY 1)
      |SELECT era, n_orders, revenue FROM mart
      |UNION ALL
      |SELECT '__audit_rows', (SELECT COUNT(*) FROM mart), CAST(0.0 AS DOUBLE)
      |ORDER BY era""") { (spark, dir) =>
    val c = Catalog(spark, dir)
    val wh = Warehouse.scratch(spark, "m36")
    val bootstrap = Hook("bootstrap_year_dim",
      "create year_dim as select distinct years + era from orders", () =>
      wh.write(
        c.orders.select(year(col("o_orderdate")).as("d_year")).distinct()
          .withColumn("era",
            when(col("d_year") >= 2000, "focus").otherwise("archive")),
        "raw", "year_dim"))
    val audit = Hook("audit_mart",
      "insert run audit row counts", () =>
      wh.write(
        wh.read("analytics", "mart_era_revenue")
          .agg(count(lit(1)).as("n_rows")),
        "raw", "run_audit"))
    val graph = ModelGraph(Seq(
      Model("stg_orders", Seq("orders"), Materialization.View,
        ctx => ctx.source("orders")
          .select(col("o_custkey"),
            year(col("o_orderdate")).as("d_year"),
            decTotal(col("o_totalprice")).as("price")),
        body = "orders with order year"),
      Model("mart_era_revenue", Seq("stg_orders", "year_dim"),
        Materialization.Table,
        ctx => ctx.ref("stg_orders")
          .join(broadcast(ctx.source("year_dim")), Seq("d_year"))
          .groupBy("era")
          .agg(count(lit(1)).as("n_orders"),
            dbl(sum(col("price"))).as("revenue")),
        body = "revenue by era from the hook-bootstrapped dim")))
    val sources: String => DataFrame = {
      case "year_dim" => wh.read("raw", "year_dim") // hook-created
      case n => c.table(n)
    }
    val mart = Runner(Materializer(wh), sources,
        hooks = RunHooks(onRunStart = Seq(bootstrap), onRunEnd = Seq(audit)))
      .runAll(graph)("mart_era_revenue")
    mart.select(col("era"), col("n_orders"), col("revenue"))
      .unionByName(wh.read("raw", "run_audit")
        .select(lit("__audit_rows").as("era"), col("n_rows").as("n_orders"),
          lit(0.0).as("revenue")))
      .orderBy("era")
  }

  // m37 — SEMANTIC LAYER / METRICS (core/Metrics.scala — dbt
  // MetricFlow): metrics defined once against a semantic model
  // (dimensions + time dimension + measures over orders⋈customer)
  // and COMPILED per query — every MetricFlow metric type in one
  // request: simple (revenue), filtered simple (big-ticket revenue:
  // the filter gates input rows inside the shared aggregation),
  // ratio (AOV = revenue/orders, computed on the grouped row — never
  // a join of two aggregates), derived (regular = revenue − big),
  // and cumulative (running revenue per segment over the month
  // grain). The compilation claim is the scale story: ONE scan + ONE
  // hash aggregation regardless of metric count (all measures fold
  // into the same groupBy), plus one window for the cumulative
  // metric; the oracle reproduces every metric column from scratch,
  // so definition→compilation→arithmetic is value-gated end to end.
  val m37: Q = q("m37_semantic_metrics",
    """WITH g AS (
      |  SELECT c_mktsegment AS segment,
      |    CAST(date_trunc('month', o_orderdate) AS DATE) AS metric_time__month,
      |    SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS rev,
      |    SUM(CASE WHEN o_totalprice > CAST(200000 AS DOUBLE)
      |        THEN CAST(o_totalprice AS DECIMAL(14,2)) END) AS bigrev,
      |    COUNT(*) AS n_orders,
      |    COUNT(DISTINCT o_custkey) AS n_buyers
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY 1, 2)
      |SELECT segment, metric_time__month,
      |  CAST(rev AS DOUBLE) AS revenue,
      |  CAST(bigrev AS DOUBLE) AS big_revenue,
      |  n_orders, n_buyers,
      |  CAST(rev AS DOUBLE) / NULLIF(CAST(n_orders AS DOUBLE), 0.0) AS aov,
      |  CAST(rev - COALESCE(bigrev, 0) AS DOUBLE) AS regular_revenue,
      |  CAST(SUM(rev) OVER (PARTITION BY segment ORDER BY metric_time__month
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS cum_revenue
      |FROM g ORDER BY segment, metric_time__month""") { (spark, dir) =>
    val c = Catalog(spark, dir)
    val model = Metrics.SemanticModel(
      table = c.orders.join(c.customer, col("o_custkey") === col("c_custkey")),
      dimensions = Map("segment" -> col("c_mktsegment")),
      timeDimension = col("o_orderdate"),
      measures = Map(
        "order_total" -> Metrics.Measure("sum", decTotal(col("o_totalprice"))),
        "orders" -> Metrics.Measure("count", lit(1)),
        "buyers" -> Metrics.Measure("count_distinct", col("o_custkey"))))
    val out = Metrics.query(model, Seq(
        Metrics.Simple("revenue", "order_total"),
        Metrics.Simple("big_revenue", "order_total",
          Some(col("o_totalprice") > 200000.0)),
        Metrics.Simple("n_orders", "orders"),
        Metrics.Simple("n_buyers", "buyers"),
        Metrics.Ratio("aov", "revenue", "n_orders"),
        Metrics.Derived("regular_revenue",
          m => m("revenue") - coalesce(m("big_revenue"),
            lit(0).cast(DecimalType(24, 2))),
          Seq("revenue", "big_revenue")),
        Metrics.Cumulative("cum_revenue", "revenue")),
      groupBy = Seq("segment"), grain = "month")
    out.select(col("segment"), col("metric_time__month"),
        dbl(col("revenue")).as("revenue"),
        dbl(col("big_revenue")).as("big_revenue"),
        col("n_orders"), col("n_buyers"), col("aov"),
        dbl(col("regular_revenue")).as("regular_revenue"),
        dbl(col("cum_revenue")).as("cum_revenue"))
      .orderBy("segment", "metric_time__month")
  }

  // m38 — dbt MODEL VERSIONS (core/Versioned.scala): fct_orders
  // ships a BREAKING v2 (column rename revenue→net_revenue + a
  // semantic filter dropping finalized 'F' orders) next to the still-
  // published v1. Each version materializes as its own relation
  // (fct_orders_v1 / fct_orders_v2); mart_legacy PINS v1 with
  // {{ ref('fct_orders', v=1) }}, mart_current floats on the bare
  // {{ ref('fct_orders') }} → latest. Resolution happens at text
  // level before checksumming, so a latest_version bump changes
  // exactly the floating consumers' checksums (state:modified parity
  // — pinned in EngineSpec together with the v1 deprecation
  // warning). The entry returns both marts; the oracle reproduces
  // each version's semantics independently from source, so a
  // resolver binding either consumer to the wrong version fails the
  // hash on sight.
  val m38: Q = q("m38_model_versions",
    """WITH v1 AS (
      |  SELECT o_custkey, CAST(o_totalprice AS DECIMAL(14,2)) AS revenue
      |  FROM orders),
      |v2 AS (
      |  SELECT o_custkey, CAST(o_totalprice AS DECIMAL(14,2)) AS net_revenue
      |  FROM orders WHERE o_orderstatus <> 'F'),
      |leg AS (
      |  SELECT 'legacy_v1' AS consumer, c_mktsegment, COUNT(*) AS n_orders,
      |    CAST(SUM(revenue) AS DOUBLE) AS revenue
      |  FROM v1 JOIN customer ON o_custkey = c_custkey GROUP BY 2),
      |cur AS (
      |  SELECT 'current_latest' AS consumer, c_mktsegment, COUNT(*) AS n_orders,
      |    CAST(SUM(net_revenue) AS DOUBLE) AS revenue
      |  FROM v2 JOIN customer ON o_custkey = c_custkey GROUP BY 2)
      |SELECT * FROM leg UNION ALL SELECT * FROM cur
      |ORDER BY consumer, c_mktsegment""") { (spark, dir) =>
    val c = Catalog(spark, dir)
    val wh = Warehouse.scratch(spark, "m38")
    val fct = VersionedModel("fct_orders",
      versions = Seq(
        1 -> SqlModel("fct_orders",
          """SELECT o_custkey, CAST(o_totalprice AS DECIMAL(14,2)) AS revenue
            |FROM {{ source('raw', 'orders') }}""".stripMargin,
          Materialization.Table),
        2 -> SqlModel("fct_orders",
          """SELECT o_custkey, CAST(o_totalprice AS DECIMAL(14,2)) AS net_revenue
            |FROM {{ source('raw', 'orders') }}
            |WHERE o_orderstatus <> 'F'""".stripMargin,
          Materialization.Table)),
      latestVersion = 2,
      deprecationDates = Map(1 -> "2026-06-01"))
    val specs = Seq(fct)
    def mart(tag: String, refCall: String, revCol: String): Model =
      SqlModel(s"mart_$tag", Versioned.rewriteRefs(
        s"""SELECT '$tag' AS consumer, c.c_mktsegment,
           |  COUNT(*) AS n_orders, CAST(SUM(o.$revCol) AS DOUBLE) AS revenue
           |FROM $refCall o
           |JOIN {{ source('raw', 'customer') }} c ON o.o_custkey = c.c_custkey
           |GROUP BY 1, 2""".stripMargin, specs),
        Materialization.Table)
    val graph = ModelGraph(Versioned.lower(fct) ++ Seq(
      mart("legacy_v1", "{{ ref('fct_orders', v=1) }}", "revenue"),
      mart("current_latest", "{{ ref('fct_orders') }}", "net_revenue")))
    val out = Runner(Materializer(wh), n => c.table(n)).runAll(graph)
    out("mart_legacy_v1").unionByName(out("mart_current_latest"))
      .orderBy("consumer", "c_mktsegment")
  }

  // m39 — dbt MODEL GOVERNANCE (core/AccessControl.scala — dbt ≥1.5
  // `groups` + `access`, the contract layer under dbt Mesh): the
  // entry emits the full access-decision matrix for a two-group,
  // two-package mesh — private plumbing ref-able only inside its
  // group, protected models stopping at the package boundary, public
  // interfaces crossing it — against a literal-VALUES oracle (the
  // m06/m27 driver-matrix recipe). Enforcement (violations named at
  // graph-assembly time, valid graphs running through the Runner
  // untouched) is pinned in EngineSpec.
  val m39: Q = q("m39_model_access",
    """SELECT * FROM (VALUES
      |  ('ext_dash', 'fct_payments', 'private', false),
      |  ('ext_dash', 'rpt_finance', 'public', true),
      |  ('ext_dash', 'rpt_marketing', 'protected', false),
      |  ('mkt_campaigns', 'stg_fin', 'protected', true),
      |  ('rpt_finance', 'fct_payments', 'private', true),
      |  ('rpt_finance', 'stg_fin', 'protected', true),
      |  ('rpt_marketing', 'fct_payments', 'private', false),
      |  ('rpt_marketing', 'rpt_finance', 'public', true))
      |  AS t(consumer, dep, dep_access, allowed)
      |ORDER BY consumer, dep""") { (spark, _) =>
    val gov = Map(
      "stg_fin" -> Governance("finance", Access.Protected),
      "fct_payments" -> Governance("finance", Access.Private),
      "rpt_finance" -> Governance("finance", Access.Public),
      "mkt_campaigns" -> Governance("marketing", Access.Private),
      "rpt_marketing" -> Governance("marketing", Access.Protected),
      "ext_dash" -> Governance("partner", Access.Protected, pkg = "partner_pkg"))
    val candidates = Seq(
      "rpt_finance" -> "fct_payments", "rpt_finance" -> "stg_fin",
      "rpt_marketing" -> "fct_payments", "rpt_marketing" -> "rpt_finance",
      "mkt_campaigns" -> "stg_fin",
      "ext_dash" -> "rpt_finance", "ext_dash" -> "rpt_marketing",
      "ext_dash" -> "fct_payments")
    val rows = candidates.map { case (c, d) =>
      (c, d, Access.name(gov(d).access),
        AccessControl.allowed(gov.getOrElse(c, AccessControl.Ungoverned), gov(d)))
    }
    spark.createDataFrame(rows)
      .toDF("consumer", "dep", "dep_access", "allowed")
      .orderBy("consumer", "dep")
  }

  // m40 — dbt EXPOSURES (core/Exposures.scala): declared downstream
  // consumers (dashboard / ML job / feed) as graph nodes that never
  // execute — provenance past the warehouse boundary. The entry
  // emits each exposure's full upstream closure over m27's demo DAG
  // (the models `--select +exposure:name` must build) against a
  // literal-VALUES oracle; the CI question — which exposures a
  // modified model reaches (`state:modified+` extended one hop past
  // the DAG edge) — is pinned in EngineSpec.
  val m40: Q = q("m40_exposures",
    """SELECT * FROM (VALUES
      |  ('churn_model', 'int_bc'), ('churn_model', 'stg_b'),
      |  ('churn_model', 'stg_c'),
      |  ('exec_dash', 'int_ab'), ('exec_dash', 'int_bc'),
      |  ('exec_dash', 'mart_x'), ('exec_dash', 'mart_y'),
      |  ('exec_dash', 'stg_a'), ('exec_dash', 'stg_b'),
      |  ('exec_dash', 'stg_c'),
      |  ('raw_feed', 'stg_a'))
      |  AS t(exposure, model_name)
      |ORDER BY exposure, model_name""") { (spark, _) =>
    def m(name: String, deps: Seq[String]): Model =
      Model(name, deps, Materialization.View, _ => spark.emptyDataFrame)
    val g = ModelGraph(Seq(
      m("stg_a", Nil), m("stg_b", Nil), m("stg_c", Nil),
      m("int_ab", Seq("stg_a", "stg_b")),
      m("int_bc", Seq("stg_b", "stg_c")),
      m("mart_x", Seq("int_ab")),
      m("mart_y", Seq("int_ab", "int_bc")),
      m("audit_y", Seq("mart_y"))))
    val exposures = Seq(
      Exposure("exec_dash", "dashboard", "analytics@example.com",
        Seq("mart_x", "mart_y")),
      Exposure("churn_model", "ml", "ds@example.com", Seq("int_bc")),
      Exposure("raw_feed", "application", "eng@example.com", Seq("stg_a")))
    val rows = exposures.flatMap(e =>
      Exposures.upstream(g, e).toSeq.sorted.map(e.name -> _))
    spark.createDataFrame(rows).toDF("exposure", "model_name")
      .orderBy("exposure", "model_name")
  }

  // m41 — COLUMN-LEVEL LINEAGE (core/ColumnLineage.scala): each mart
  // column traced to the source-table columns it derives from, via
  // Catalyst's own parser over the unresolved plan — the
  // column-granular refinement of m06's model-level state:modified.
  // The DAG exercises the walk's whole surface: source() scans with
  // renames, a CTE whose SELECT * expands through an upstream model,
  // an aliased join with qualified refs, an expression fanning in
  // from BOTH sides, and count(*) (depends on nothing → empty-source
  // row). Transitivity (mart → staging → raw) falls out of walking
  // models in dependency order. Precision — a source column edit
  // flags only the marts that READ it — is pinned in EngineSpec.
  val m41: Q = q("m41_column_lineage",
    """SELECT * FROM (VALUES
      |  ('mart_revenue', 'customer_name', 'customer', 'c_name'),
      |  ('mart_revenue', 'exposure', 'customer', 'c_acctbal'),
      |  ('mart_revenue', 'exposure', 'orders', 'o_totalprice'),
      |  ('mart_revenue', 'n_orders', '', ''),
      |  ('mart_revenue', 'revenue', 'orders', 'o_totalprice'),
      |  ('stg_customers', 'balance', 'customer', 'c_acctbal'),
      |  ('stg_customers', 'cust_id', 'customer', 'c_custkey'),
      |  ('stg_customers', 'name', 'customer', 'c_name'),
      |  ('stg_orders', 'cust_id', 'orders', 'o_custkey'),
      |  ('stg_orders', 'order_id', 'orders', 'o_orderkey'),
      |  ('stg_orders', 'price', 'orders', 'o_totalprice'))
      |  AS t(model_name, column_name, src_table, src_column)
      |ORDER BY model_name, column_name, src_table, src_column""") {
    (spark, dir) =>
    val c = Catalog(spark, dir)
    val models = Seq(
      "stg_orders" ->
        """SELECT o_orderkey AS order_id, o_custkey AS cust_id,
          |       o_totalprice AS price
          |FROM {{ source('raw', 'orders') }}""".stripMargin,
      "stg_customers" ->
        """SELECT c_custkey AS cust_id, c_name AS name,
          |       c_acctbal AS balance
          |FROM {{ source('raw', 'customer') }}""".stripMargin,
      "mart_revenue" ->
        """WITH big AS (
          |  SELECT * FROM {{ ref('stg_orders') }} WHERE price > 1000)
          |SELECT c.name AS customer_name,
          |       count(*) AS n_orders,
          |       sum(b.price) AS revenue,
          |       max(b.price + c.balance) AS exposure
          |FROM big b
          |JOIN {{ ref('stg_customers') }} c ON b.cust_id = c.cust_id
          |GROUP BY c.name""".stripMargin)
    val lineage = ColumnLineage.toSources(spark, models, Map(
      "orders" -> c.orders.schema.fieldNames.toSeq,
      "customer" -> c.customer.schema.fieldNames.toSeq))
    val rows = lineage.toSeq.flatMap { case (model, cols) =>
      cols.flatMap { col =>
        if (col.srcs.isEmpty) Seq((model, col.name, "", ""))
        else col.srcs.toSeq.sorted.map(s => (model, col.name, s._1, s._2))
      }
    }.sorted
    spark.createDataFrame(rows)
      .toDF("model_name", "column_name", "src_table", "src_column")
      .orderBy("model_name", "column_name", "src_table", "src_column")
  }

  // m42 — GDPR CASCADING DELETES (core/Erasure.scala): a small
  // subject-key set erased from every derived table. Keyed tables
  // purge via broadcast anti-join rewrite (the PB-scale fact never
  // shuffles); the keyless aggregate REBUILDS from the purged base
  // (m34's view-maintenance discipline, ordering enforced by the
  // API); the journal keeps per-table row accounting + a one-way
  // fingerprint of the key set — compliance-verifiable without
  // retaining the identifiers it just erased. Atomicity rides
  // overwriteStaged's rename commit. The oracle reproduces the full
  // accounting (before/deleted/after per table) with NOT-IN SQL.
  val m42: Q = q("m42_cascading_deletes",
    """WITH keys AS (SELECT c_custkey AS k FROM customer WHERE c_custkey % 97 = 3)
      |SELECT * FROM (
      |  SELECT 'core.customers' AS table_name,
      |         (SELECT COUNT(*) FROM customer) AS rows_before,
      |         (SELECT COUNT(*) FROM customer
      |          WHERE c_custkey IN (SELECT k FROM keys)) AS rows_deleted,
      |         (SELECT COUNT(*) FROM customer
      |          WHERE c_custkey NOT IN (SELECT k FROM keys)) AS rows_after
      |  UNION ALL SELECT 'core.orders',
      |         (SELECT COUNT(*) FROM orders),
      |         (SELECT COUNT(*) FROM orders
      |          WHERE o_custkey IN (SELECT k FROM keys)),
      |         (SELECT COUNT(*) FROM orders
      |          WHERE o_custkey NOT IN (SELECT k FROM keys))
      |  UNION ALL SELECT 'core.status_sales',
      |         (SELECT COUNT(DISTINCT o_orderstatus) FROM orders),
      |         (SELECT COUNT(DISTINCT o_orderstatus) FROM orders)
      |           - (SELECT COUNT(DISTINCT o_orderstatus) FROM orders
      |              WHERE o_custkey NOT IN (SELECT k FROM keys)),
      |         (SELECT COUNT(DISTINCT o_orderstatus) FROM orders
      |          WHERE o_custkey NOT IN (SELECT k FROM keys))
      |) ORDER BY table_name""") { (spark, dir) =>
    val c = Catalog(spark, dir)
    val wh = Warehouse.scratch(spark, "m42")
    wh.write(c.customer.select("c_custkey", "c_name", "c_acctbal"),
      "core", "customers")
    wh.write(c.orders.select("o_orderkey", "o_custkey", "o_orderstatus",
      "o_totalprice"), "core", "orders")
    val statusSales = (w: Warehouse) =>
      w.read("core", "orders").groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"))
    wh.write(statusSales(wh), "core", "status_sales")
    val keys = c.customer.filter(col("c_custkey") % 97 === 3)
      .select("c_custkey")
    val reports = Erasure(wh, keys, Erasure.Subject(
      keyed = Seq(("core", "customers", "c_custkey"),
        ("core", "orders", "o_custkey")),
      rebuilds = Seq(("core", "status_sales", statusSales))), "req_m42")
    spark.createDataFrame(reports.map(r =>
        (r.table, r.rowsBefore, r.rowsDeleted, r.rowsAfter)))
      .toDF("table_name", "rows_before", "rows_deleted", "rows_after")
      .orderBy("table_name")
  }

  // m43 — dbt ≥1.8 `--empty` (core/EmptyRun.scala): the whole DAG
  // runs with LIMIT-0 sources — every transform executes, schemas
  // propagate exactly as a real run's would, contracts check the real
  // output schema — for metadata-only cost (a limit(0) parquet scan
  // reads footers, so the validation is as cheap on 100 TB as here).
  // The DAG covers a view, an incremental first-build (NULL-watermark
  // branch), a contracted mart that passes, and a mart whose contract
  // is missing a column — caught by the empty run before any
  // data-bearing task would have been scheduled. CLI: `run --empty`
  // builds into the suffixed CI schema and exits 1 on violations.
  val m43: Q = q("m43_empty_run",
    """SELECT * FROM (VALUES
      |  ('fct_orders', CAST(0 AS BIGINT), CAST(3 AS INT), 'no_contract'),
      |  ('mart_bad', CAST(0 AS BIGINT), CAST(2 AS INT), 'missing:region'),
      |  ('mart_by_status', CAST(0 AS BIGINT), CAST(3 AS INT), 'ok'),
      |  ('stg_orders', CAST(0 AS BIGINT), CAST(4 AS INT), 'no_contract'))
      |  AS t(model_name, n_rows, n_cols, contract_status)
      |ORDER BY model_name""") { (spark, dir) =>
    val c = Catalog(spark, dir)
    val wh = Warehouse.scratch(spark, "m43")
    val graph = ModelGraph(Seq(
      Model("stg_orders", Seq("orders"), Materialization.View,
        ctx => ctx.source("orders").select(col("o_orderkey"),
          col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))),
      Model("fct_orders", Seq("stg_orders"),
        Materialization.Incremental(IncrementalStrategy.Append("o_orderkey")),
        ctx => ctx.ref("stg_orders").select(col("o_orderkey"),
          col("o_orderstatus"), (col("o_totalprice") * 0.9).as("net"))),
      Model("mart_by_status", Seq("fct_orders"), Materialization.Table,
        ctx => ctx.ref("fct_orders").groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"), sum(col("net")).as("net_total"))),
      Model("mart_bad", Seq("stg_orders"), Materialization.Table,
        ctx => ctx.ref("stg_orders").select("o_custkey", "o_totalprice"))))
    val report = EmptyRun.validate(Materializer(wh), graph,
      name => if (name == "orders") c.orders
        else throw new IllegalArgumentException(s"unknown source $name"),
      contracts = Map(
        "mart_by_status" -> Contract.of(
          "o_orderstatus" -> StringType, "n" -> LongType,
          "net_total" -> DoubleType),
        "mart_bad" -> Contract.of(
          "o_custkey" -> LongType, "o_totalprice" -> DoubleType,
          "region" -> StringType)))
    spark.createDataFrame(report.map(v =>
        (v.model, v.nRows, v.nCols, v.contractStatus)))
      .toDF("model_name", "n_rows", "n_cols", "contract_status")
      .orderBy("model_name")
  }

  // m44 — `dbt build` (core/Build.scala): models and tests as ONE
  // gated DAG — each model's tests run the moment it materializes,
  // a failure skips exactly its descendants (the failed model's
  // table EXISTS — the test failed after the build), and independent
  // branches run to completion. The entry's DAG has a mid-graph test
  // failure: the bad branch skips transitively (two hops), the good
  // branch completes — the full status matrix is the gated output.
  // Skip-propagation + no-materialization-of-skipped pinned in
  // EngineSpec.
  val m44: Q = q("m44_build_gated",
    """SELECT * FROM (VALUES
      |  ('fct_bad', 'test_failed:max_price'),
      |  ('grand_mart', 'skipped:mart_down'),
      |  ('mart_down', 'skipped:fct_bad'),
      |  ('mart_good', 'success'),
      |  ('stg_customers', 'success'),
      |  ('stg_orders', 'success'))
      |  AS t(node, status)
      |ORDER BY node""") { (spark, dir) =>
    val c = Catalog(spark, dir)
    val wh = Warehouse.scratch(spark, "m44")
    val graph = ModelGraph(Seq(
      Model("stg_orders", Seq("orders"), Materialization.View,
        ctx => ctx.source("orders")
          .select("o_orderkey", "o_custkey", "o_totalprice")),
      Model("stg_customers", Seq("customer"), Materialization.View,
        ctx => ctx.source("customer").select("c_custkey", "c_name")),
      Model("fct_bad", Seq("stg_orders"), Materialization.Table,
        ctx => ctx.ref("stg_orders")),
      Model("mart_down", Seq("fct_bad"), Materialization.Table,
        ctx => ctx.ref("fct_bad").groupBy("o_custkey")
          .agg(sum(col("o_totalprice")).as("total"))),
      Model("grand_mart", Seq("mart_down"), Materialization.Table,
        ctx => ctx.ref("mart_down").agg(sum(col("total")).as("grand"))),
      Model("mart_good", Seq("stg_customers"), Materialization.Table,
        ctx => ctx.ref("stg_customers").groupBy("c_name")
          .agg(count(lit(1)).as("n")))))
    val results = Build.run(Materializer(wh), graph,
      name => name match {
        case "orders" => c.orders
        case "customer" => c.customer
        case other => throw new IllegalArgumentException(s"source $other")
      },
      tests = Map(
        "stg_customers" -> Seq(
          "unique_custkey" -> (df => graft.operators.DataQuality
            .unique(df, Seq("c_custkey")))),
        "fct_bad" -> Seq(
          "max_price" -> (df => df.filter(col("o_totalprice") > 1000)))))
    spark.createDataFrame(results.map(r => (r.name, r.status)))
      .toDF("node", "status").orderBy("node")
  }

  // m45 — `{% for %}` LOOPS in the Jinja layer (core/Jinja.scala
  // expandFor): the dbt pivot idiom — generate one aggregate column
  // per list element, with `{% if not loop.last %},{% endif %}` as
  // the separator — authored the HARD way round to pin the pass
  // ordering: the loop lives INSIDE a `{% macro %}` body, so the
  // macro-call render must leave the loop variable's `{{ st }}`
  // regions braced (it is not a macro param) for expandFor to bind
  // one fixpoint pass later. Expansion is parse-time string work;
  // the rendered SQL is a plain pivot aggregation Catalyst sees
  // whole. Oracle = the loop hand-unrolled.
  val m45: Q = q("m45_jinja_for",
    """SELECT c_mktsegment,
      |  CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_status_o,
      |  CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_status_f,
      |  CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_status_p,
      |  COUNT(*) AS n_orders
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""") { (spark, dir) =>
    val c = Catalog(spark, dir)
    val wh = Warehouse.scratch(spark, "m45")
    val pivotMacro = Jinja.parseMacros(
      """{% macro status_pivot(status_column) %}
        |{% for st in ['o', 'f', 'p'] %}
        |CAST(SUM(CASE WHEN {{ status_column }} = upper('{{ st }}') THEN 1 ELSE 0 END) AS BIGINT) AS n_status_{{ st }}{% if not loop.last %},{% endif %}
        |{% endfor %}
        |{% endmacro %}""".stripMargin)
    val graph = ModelGraph(Seq(
      SqlModel("mart_status_pivot",
        """SELECT c.c_mktsegment,
          |  {{ status_pivot('o.o_orderstatus') }},
          |  COUNT(*) AS n_orders
          |FROM {{ source('raw', 'orders') }} o
          |JOIN {{ source('raw', 'customer') }} c ON o.o_custkey = c.c_custkey
          |GROUP BY c.c_mktsegment""".stripMargin,
        Materialization.Table, macros = pivotMacro)))
    Runner(Materializer(wh), n => c.table(n))
      .runAll(graph)("mart_status_pivot")
      .orderBy("c_mktsegment")
  }

  // m46 — dbt `run-operation` (core/RunOperation.scala): invoke a
  // standalone macro against the warehouse — the maintenance entry
  // point grants/audits/ad-hoc backfills live in, OUTSIDE the model
  // DAG. The call is synthesized from keyword args (dbt --args),
  // expanded through the same Jinja layer models use, and the
  // rendered SQL resolves ref()/source() through SqlModel.run — so an
  // operation sees exactly the resolution surface models do (here:
  // one source table and one materialized model). The result lands
  // journaled as an ops table (op_<name>), dbt's artifact-trail
  // shape. Oracle restates the audit with the macro hand-inlined.
  val m46: Q = q("m46_run_operation",
    """WITH a AS (
      |  SELECT 'orders' AS tbl, CAST(COUNT(*) AS BIGINT) AS n_rows FROM orders
      |  UNION ALL
      |  SELECT 'stg_recent_orders', CAST(COUNT(*) AS BIGINT)
      |  FROM orders WHERE CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) >= 1996)
      |SELECT tbl, n_rows, n_rows >= 10 AS healthy FROM a ORDER BY tbl""") { (spark, dir) =>
    val c = Catalog(spark, dir)
    val wh = Warehouse.scratch(spark, "m46")
    val graph = ModelGraph(Seq(
      SqlModel("stg_recent_orders",
        """SELECT * FROM {{ source('raw', 'orders') }}
          |WHERE CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) >= 1996""".stripMargin,
        Materialization.Table)))
    Runner(Materializer(wh), n => c.table(n)).runAll(graph)
    val ops = Jinja.parseMacros(
      """{% macro audit_row_counts(min_rows) %}
        |SELECT 'orders' AS tbl, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  COUNT(*) >= {{ min_rows }} AS healthy
        |FROM {{ source('raw', 'orders') }}
        |UNION ALL
        |SELECT 'stg_recent_orders' AS tbl, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  COUNT(*) >= {{ min_rows }} AS healthy
        |FROM {{ ref('stg_recent_orders') }}
        |{% endmacro %}""".stripMargin)
    RunOperation.run(wh, "analytics", ops, "audit_row_counts",
        Map("min_rows" -> "10"), n => c.table(n))
      .orderBy("tbl")
  }

  // m47 — OPTIMISTIC CONCURRENCY for racing writers (core/Occ.scala,
  // the Delta/Iceberg multi-writer protocol over m29's manifest log):
  // two writers snapshot the SAME version, the second-to-publish must
  // LOSE the manifest-rename CAS (not silently clobber — the
  // lost-update anomaly this protocol exists to kill) and retry by
  // re-reading and re-applying its update on the winner's state. The
  // entry drives that interleave deterministically: seed v1, A and B
  // both snapshot v1, B wins v2, A's stale CAS returns false
  // (require-pinned in the dataflow itself), A's transact retry lands
  // v3 — and the gate checks BOTH increments survive in the final
  // state. The CAS is one metadata rename regardless of table size;
  // the loser's orphan commit dir is vacuum-sweepable residue.
  val m47: Q = q("m47_occ_writers",
    """WITH base AS (SELECT c_mktsegment, COUNT(*) AS b FROM customer GROUP BY 1),
      |a AS (SELECT c_mktsegment, COUNT(*) AS da
      |      FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1),
      |bb AS (SELECT c_mktsegment, COUNT(*) AS db
      |       FROM customer WHERE c_acctbal > 0 GROUP BY 1)
      |SELECT base.c_mktsegment,
      |  CAST(b + COALESCE(da, 0) + COALESCE(db, 0) AS BIGINT) AS cnt,
      |  CAST(3 AS INT) AS final_version
      |FROM base LEFT JOIN a USING (c_mktsegment)
      |  LEFT JOIN bb USING (c_mktsegment)
      |ORDER BY base.c_mktsegment""") { (spark, dir) =>
    val c = Catalog(spark, dir)
    val wh = Warehouse.scratch(spark, "m47")
    val seed = c.customer.groupBy("c_mktsegment")
      .agg(count(lit(1)).as("cnt"))
    TimeTravel.commit(wh, "analytics", "seg_counts", seed, "overwrite") // v1
    def bump(delta: DataFrame)(state: DataFrame): DataFrame =
      state.join(delta, Seq("c_mktsegment"), "left")
        .select(col("c_mktsegment"),
          (col("cnt") + coalesce(col("d"), lit(0L))).as("cnt"))
    val deltaA = c.orders
      .join(c.customer, col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment").agg(count(lit(1)).as("d"))
    val deltaB = c.customer.filter(col("c_acctbal") > 0)
      .groupBy("c_mktsegment").agg(count(lit(1)).as("d"))
    // the race, interleaved deterministically: both snapshot v1
    val ra = Occ.snapshot(wh, "analytics", "seg_counts")
    val rb = Occ.snapshot(wh, "analytics", "seg_counts")
    require(Occ.tryCommit(wh, "analytics", "seg_counts",
      bump(deltaB)(rb.df), rb.version, "wb"), "B saw v1 and must win v2")
    require(!Occ.tryCommit(wh, "analytics", "seg_counts",
      bump(deltaA)(ra.df), ra.version, "wa"),
      "A's stale CAS must LOSE, never clobber B")
    val v = Occ.transact(wh, "analytics", "seg_counts", "wa")(bump(deltaA))
    TimeTravel.read(wh, "analytics", "seg_counts", v)
      .select(col("c_mktsegment"), col("cnt").cast(LongType).as("cnt"),
        lit(v).cast(IntegerType).as("final_version"))
      .orderBy("c_mktsegment")
  }

  // m48 — state:modified GRANULARITY (dbt's `state:modified.body` vs
  // `state:modified.configs`): a config edit — switching a model's
  // schema-change policy, materialization, tags — IS a modification
  // even with an untouched body (dbt's default state:modified covers
  // both), and the sub-selectors let CI distinguish "SQL changed"
  // from "deployment changed". The manifest now persists a per-model
  // config checksum alongside the body checksum; pre-config
  // manifests degrade to body-only (an absent stored config can
  // never read as modified). The matrix exercises all four cells —
  // body-only, config-only, both, neither — and the manifest is
  // ROUND-TRIPPED through its JSON encoding so the oracle also
  // gates the parser's optional-field handling. Driver-side graph
  // math (m06's recipe), so the oracle is the literal matrix.
  val m48: Q = q("m48_modified_configs",
    """SELECT * FROM (VALUES
      |  ('int_ab', false, true,  true),
      |  ('mart',   false, false, false),
      |  ('stg_a',  true,  false, true),
      |  ('stg_b',  true,  true,  true))
      |  AS t(model_name, modified_body, modified_configs, modified)
      |ORDER BY model_name""") { (spark, _) =>
    def graph(aBody: String, bBody: String, bTags: Seq[String],
        abPolicy: OnSchemaChange): ModelGraph = {
      def m(name: String, deps: Seq[String], mat: Materialization,
          body: String, tags: Seq[String] = Nil,
          osc: OnSchemaChange = OnSchemaChange.Ignore): Model =
        Model(name, deps, mat, _ => spark.emptyDataFrame, body = body,
          tags = tags, onSchemaChange = osc)
      val inc = Materialization.Incremental(
        IncrementalStrategy.Merge(Seq("k"), None))
      ModelGraph(Seq(
        m("stg_a", Nil, Materialization.View, aBody),
        m("stg_b", Nil, Materialization.View, bBody, tags = bTags),
        m("int_ab", Seq("stg_a", "stg_b"), inc, "join ab", osc = abPolicy),
        m("mart", Seq("int_ab"),
          Materialization.Table, "mart")))
    }
    val prod = graph("select 1", "select 2", Nil, OnSchemaChange.Ignore)
    // round-trip the persisted artifact: the diff below must work off
    // the PARSED manifest, optional config field included
    val state = ManifestState.fromJson(ManifestState.of(prod).toJson)
    val current = graph(
      "select 1 /* reworked */",           // stg_a: body-only edit
      "select 2 /* reworked */",           // stg_b: body AND tags edit
      Seq("nightly"),
      OnSchemaChange.AppendNewColumns)     // int_ab: config-only edit
    val rows = current.models.map(m => (m.name,
      state.diffBody(current).contains(m.name),
      state.diffConfigs(current).contains(m.name),
      state.diff(current).contains(m.name))).sortBy(_._1)
    spark.createDataFrame(rows)
      .toDF("model_name", "modified_body", "modified_configs", "modified")
      .orderBy("model_name")
  }

  // m49 — SQL-surface CUSTOM FUNCTIONS (graft.GraftExtensions — the
  // SparkSessionExtensions entry point): the native Catalyst
  // expressions (dot_product, nfc_normalize, window_hashes,
  // misra_gries) registered as SQL functions, so the SQL-TEXT
  // authoring layer (m30's SqlModel) reaches the same codegen'd
  // implementations the DataFrame operators use. A session built by
  // graft wires them via withExtensions / spark.sql.extensions; a
  // LIVE session (the harness's, a notebook's) installs through the
  // graftbridge function-registry shim — this entry exercises THAT
  // path end to end: install → author a SQL-text model calling
  // dot_product → run through the Runner → oracle restates the dot
  // product as DuckDB's strict list fold.
  val m49: Q = q("m49_sql_extensions",
    """SELECT vec_id,
      |  ROUND(list_reduce(list_transform(embedding,
      |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, x) -> a + x), 6)
      |    AS norm_sq
      |FROM embeddings WHERE vec_id < 50 ORDER BY vec_id""") { (spark, dir) =>
    val c = Catalog(spark, dir)
    graft.GraftExtensions.install(spark)
    val wh = Warehouse.scratch(spark, "m49")
    val graph = ModelGraph(Seq(
      SqlModel("emb_norms",
        """SELECT vec_id,
          |  ROUND(dot_product(transform(embedding, x -> CAST(x AS DOUBLE)),
          |                    transform(embedding, x -> CAST(x AS DOUBLE))), 6)
          |    AS norm_sq
          |FROM {{ source('raw', 'embeddings') }} WHERE vec_id < 50""".stripMargin,
        Materialization.Table)))
    Runner(Materializer(wh), n => c.table(n)).runAll(graph)
    wh.read("analytics", "emb_norms").orderBy("vec_id")
  }

  // m50 — PER-MODEL pre_hook / post_hook (dbt `config(pre_hook=…,
  // post_hook=…)` — the next thing a dbt user reaches for after m36's
  // run-level on-run-start/on-run-end: grants or audit rows after EACH
  // table build, fixture DDL one model needs). Firing order is
  // oracle-PROVEN, not logged: every hook appends an audit row whose
  // step comes from one shared counter, so the (label → step) mapping
  // the oracle states as literals holds only if post(base) fired
  // before pre(mart) fired before post(mart) — and the mart READS the
  // table its own pre-hook creates, so a late pre-hook is a crash,
  // not a wrong number. The post-hook's payload is the mart's row
  // count read back from the warehouse (it must see the finished
  // target). Retry-skip of journaled per-model hooks (checksum bound
  // to the model's, so an edited model re-fires its hooks) is pinned
  // in EngineSpec.
  val m50: Q = q("m50_model_hooks",
    """WITH yr AS (
      |  SELECT EXTRACT(YEAR FROM o_orderdate) AS d_year,
      |    COUNT(*) AS n_orders,
      |    SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS rev
      |  FROM orders GROUP BY 1),
      |mart AS (
      |  SELECT CASE WHEN d_year >= 1996 THEN 'focus' ELSE 'archive' END AS era,
      |    CAST(SUM(n_orders) AS BIGINT) AS n_orders,
      |    CAST(SUM(rev) AS DOUBLE) AS revenue
      |  FROM yr GROUP BY 1)
      |SELECT era, n_orders, revenue FROM mart
      |UNION ALL
      |SELECT '__hook:post:base_year_rev', CAST(1 AS BIGINT), CAST(0.0 AS DOUBLE)
      |UNION ALL
      |SELECT '__hook:pre:mart_era_revenue', CAST(2 AS BIGINT), CAST(0.0 AS DOUBLE)
      |UNION ALL
      |SELECT '__hook:post:mart_era_revenue', CAST(3 AS BIGINT),
      |  (SELECT CAST(COUNT(*) AS DOUBLE) FROM mart)
      |ORDER BY era""") { (spark, dir) =>
    import spark.implicits._
    val c = Catalog(spark, dir)
    val wh = Warehouse.scratch(spark, "m50")
    val step = new java.util.concurrent.atomic.AtomicInteger(0)
    def audit(label: String, payload: () => Double = () => 0.0): Unit =
      wh.write(Seq((label, step.incrementAndGet().toLong, payload()))
        .toDF("era", "n_orders", "revenue"), "raw", "hook_audit",
        mode = "append")
    val graph = ModelGraph(Seq(
      Model("base_year_rev", Seq("orders"), Materialization.Table,
        ctx => ctx.source("orders")
          .groupBy(year(col("o_orderdate")).as("d_year"))
          .agg(count(lit(1)).as("n_orders"),
            sum(decTotal(col("o_totalprice"))).as("rev")),
        body = "orders rolled up per year",
        postHooks = Seq(Hook("audit_base", "audit base build", () =>
          audit("__hook:post:base_year_rev")))),
      Model("mart_era_revenue", Seq("base_year_rev", "year_dim"),
        Materialization.Table,
        ctx => ctx.ref("base_year_rev")
          .join(broadcast(ctx.source("year_dim")), Seq("d_year"))
          .groupBy("era")
          .agg(sum(col("n_orders")).as("n_orders"),
            dbl(sum(col("rev"))).as("revenue")),
        body = "era rollup over the pre-hook-bootstrapped dim",
        preHooks = Seq(Hook("bootstrap_year_dim",
          "create year_dim as distinct years + era", () => {
            wh.write(
              c.orders.select(year(col("o_orderdate")).as("d_year")).distinct()
                .withColumn("era",
                  when(col("d_year") >= 1996, "focus").otherwise("archive")),
              "raw", "year_dim")
            audit("__hook:pre:mart_era_revenue")
          })),
        postHooks = Seq(Hook("audit_mart", "audit mart row count", () =>
          audit("__hook:post:mart_era_revenue", () =>
            wh.rowCount("analytics", "mart_era_revenue").toDouble))))))
    val sources: String => DataFrame = {
      case "year_dim" => wh.read("raw", "year_dim") // pre-hook-created
      case n => c.table(n)
    }
    val mart = Runner(Materializer(wh), sources).runAll(graph)("mart_era_revenue")
    mart.select(col("era"), col("n_orders"), col("revenue"))
      .unionByName(wh.read("raw", "hook_audit"))
      .orderBy("era")
  }

  // m51 — PARTITION-SPEC EVOLUTION (core/PartitionEvolution.scala —
  // Iceberg ALTER TABLE ADD PARTITION FIELD): the orders table's
  // history (≤1996) is committed under spec 1 = year(o_orderdate);
  // the table then evolves and 1997+ commits under spec 2 = (year,
  // month) — NO existing file is rewritten (the layout change is
  // metadata-only, which is the only affordable relayout at 100 TB).
  // The entry scans "March of 1996 and 1997" through the manifest:
  // inclusive-projection pruning keeps 1997's single m=3 directory
  // but must keep ALL of 1996's year-file (its spec has no month
  // field — null never refutes), and the exact row filter finishes
  // the old era. Per-(year,month) rollup + the owning spec_id is the
  // gated output; EngineSpec pins the file-level pruning counts and
  // pruned-scan ≡ full-scan equality.
  val m51: Q = q("m51_partition_evolution",
    """SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS order_year,
      |  CAST(EXTRACT(MONTH FROM o_orderdate) AS INT) AS order_month,
      |  CASE WHEN EXTRACT(YEAR FROM o_orderdate) <= 1996 THEN 1 ELSE 2 END AS spec_id,
      |  COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS revenue
      |FROM orders
      |WHERE EXTRACT(MONTH FROM o_orderdate) = 3
      |  AND EXTRACT(YEAR FROM o_orderdate) IN (1996, 1997)
      |GROUP BY 1, 2, 3 ORDER BY 1""") { (spark, dir) =>
    val c = Catalog(spark, dir)
    val t = evolvedOrders(spark, c)
    PartitionEvolution.scan(spark, t,
        Seq("p_y" -> ((y: Column) => y.isin(1996, 1997)),
          "p_m" -> ((m: Column) => m === 3)),
        month(col("o_orderdate")) === 3 &&
          year(col("o_orderdate")).isin(1996, 1997))
      .groupBy(year(col("o_orderdate")).as("order_year"),
        month(col("o_orderdate")).as("order_month"))
      .agg(count(lit(1)).as("n_orders"),
        dbl(sum(decTotal(col("o_totalprice")))).as("revenue"))
      .withColumn("spec_id",
        when(col("order_year") <= 1996, 1).otherwise(2))
      .select("order_year", "order_month", "spec_id", "n_orders", "revenue")
      .orderBy("order_year")
  }

  /** m51's two-era table: history committed under spec 1 (year), the
    * current era under spec 2 (year, month) — shared with EngineSpec's
    * pruning pins.
    */
  def evolvedOrders(spark: SparkSession, c: Catalog): PartitionEvolution.Table = {
    import PartitionEvolution.{Spec, Table => EvoTable}
    val root = Scratch.dir("m51_evo").toString
    val src = ordersSrc(c)
    val specV1 = Spec(1, Seq("p_y" -> year(col("o_orderdate"))))
    val specV2 = Spec(2, Seq("p_y" -> year(col("o_orderdate")),
      "p_m" -> month(col("o_orderdate"))))
    val t0: EvoTable = PartitionEvolution.empty(spark, root, Seq("p_y", "p_m"))
    val t1 = PartitionEvolution.commit(spark, t0,
      src.filter(year(col("o_orderdate")) <= 1996), specV1, commitId = 0)
    PartitionEvolution.commit(spark, t1,
      src.filter(year(col("o_orderdate")) >= 1997), specV2, commitId = 1)
  }

  // m52 — MULTI-TABLE ATOMIC TRANSACTIONS (core/MultiTxn.scala — the
  // Iceberg/Nessie catalog commit): a per-year rollup and its audit
  // grand-total are maintained as a PAIR whose cross-table invariant
  // (audit == sum of rollup) must never be observable broken. Txn 1
  // publishes the ≤1996 history for both tables in ONE catalog CAS;
  // a writer then CRASHES after staging the full-data version of
  // both (data dirs on disk, no catalog commit) — the entry reads
  // through the catalog at that instant and gets the CONSISTENT old
  // pair, not a torn mix; txn 2 re-stages and commits, and the final
  // output reads both tables through one snapshot. Two tables, any
  // number of bytes, exactly one metadata rename per commit.
  // EngineSpec pins the crash invisibility, the racing-writer
  // retry, and untouched-pointer carry-forward.
  val m52: Q = q("m52_multi_table_txn",
    """SELECT 'orders_by_year' AS tbl,
      |  CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS d_year,
      |  COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS revenue
      |FROM orders GROUP BY 2
      |UNION ALL
      |SELECT 'audit_totals', -1, COUNT(*),
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE)
      |FROM orders
      |ORDER BY tbl, d_year""") { (spark, dir) =>
    val c = Catalog(spark, dir)
    val wh = Warehouse.scratch(spark, "m52")
    val src = ordersSrc(c)
    def pair(rows: DataFrame): Map[String, DataFrame] = {
      val rollup = rows.groupBy(year(col("o_orderdate")).as("d_year"))
        .agg(count(lit(1)).as("n_orders"),
          dbl(sum(decTotal(col("o_totalprice")))).as("revenue"))
      val audit = rows.agg(count(lit(1)).as("n_orders"),
        dbl(sum(decTotal(col("o_totalprice")))).as("revenue"))
      Map("orders_by_year" -> rollup, "audit_totals" -> audit)
    }
    MultiTxn.transact(wh, "analytics", "w1") { _ =>
      pair(src.filter(year(col("o_orderdate")) <= 1996)) }
    // a writer crashes between staging and the catalog CAS: both
    // tables' new data dirs exist, neither is visible
    val crashed = MultiTxn.snapshot(wh, "analytics")
    pair(src).foreach { case (t, df) =>
      MultiTxn.stage(wh, "analytics", t, df, crashed.version + 1, "crasher") }
    require(MultiTxn.snapshot(wh, "analytics").version == crashed.version,
      "staged-but-uncommitted data leaked into the catalog")
    // the real writer lands the full data atomically
    MultiTxn.transact(wh, "analytics", "w2")(_ => pair(src))
    val fin = MultiTxn.snapshot(wh, "analytics")
    MultiTxn.read(wh, "analytics", fin, "orders_by_year")
      .select(lit("orders_by_year").as("tbl"), col("d_year"),
        col("n_orders"), col("revenue"))
      .unionByName(MultiTxn.read(wh, "analytics", fin, "audit_totals")
        .select(lit("audit_totals").as("tbl"), lit(-1).as("d_year"),
          col("n_orders"), col("revenue")))
      .orderBy("tbl", "d_year")
  }

  // m53 — EXPIRE SNAPSHOTS (TimeTravel.expire — Iceberg
  // expire_snapshots / Delta log retention, the op that completes
  // m29's manifest design: history is cheap BECAUSE commits are
  // shared, so reclaiming space needs REFERENCE COUNTING, not age):
  // four commits build v1 overwrite → v2 append → v3 append → v4
  // corrective overwrite; phase 1 expires to the last TWO versions —
  // 2 manifests drop but ZERO commit dirs, because v3's append chain
  // still references v1/v2's files (the shared-file proof: the oldest
  // retained version re-aggregates bit-identically from those very
  // files); phase 2 expires to the latest alone — v3's manifest drops
  // and its three now-unreferenced commits sweep. Each phase emits
  // (dropped manifests, dropped commit dirs, oldest retained version,
  // that version's count + DECIMAL-exact revenue), all oracle-
  // reproduced from source predicates + the deterministic commit
  // topology. Retention is the reader contract (a reader past
  // keepLast loses its files — cadence > longest query, Iceberg's
  // rule); phase 1's aggregate is pinned before phase 2 sweeps the
  // files it read, modeling exactly that.
  val m53: Q = q("m53_snapshot_expire",
    """WITH v3 AS (SELECT o_totalprice FROM orders
      |           UNION ALL
      |           SELECT o_totalprice FROM orders WHERE o_orderkey % 1000 = 0),
      |v4 AS (SELECT o_totalprice FROM orders
      |       WHERE o_totalprice <= CAST(300000 AS DOUBLE))
      |SELECT 1 AS phase, CAST(2 AS INT) AS dropped_manifests,
      |  CAST(0 AS INT) AS dropped_commits, CAST(3 AS INT) AS oldest_version,
      |  (SELECT COUNT(*) FROM v3) AS n_rows,
      |  (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) FROM v3) AS total
      |UNION ALL
      |SELECT 2, CAST(1 AS INT), CAST(3 AS INT), CAST(4 AS INT),
      |  (SELECT COUNT(*) FROM v4),
      |  (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) FROM v4)
      |ORDER BY phase""") { (spark, dir) =>
    val c = Catalog(spark, dir)
    val wh = Warehouse.scratch(spark, "m53")
    val src = ordersSrc(c)
    TimeTravel.commit(wh, "analytics", "orders_exp",
      src.filter(col("o_orderdate") < cutoff), "overwrite")
    TimeTravel.commit(wh, "analytics", "orders_exp",
      src.filter(col("o_orderdate") >= cutoff), "append")
    TimeTravel.commit(wh, "analytics", "orders_exp",
      src.filter(col("o_orderkey") % 1000 === 0), "append")
    TimeTravel.commit(wh, "analytics", "orders_exp",
      src.filter(col("o_totalprice") <= 300000.0), "overwrite")
    def phaseRow(phase: Int, keepLast: Int) = {
      val (dm, dc) = TimeTravel.expire(wh, "analytics", "orders_exp", keepLast)
      val oldest = TimeTravel.history(wh, "analytics", "orders_exp")
        .head.version
      TimeTravel.read(wh, "analytics", "orders_exp", oldest)
        .agg(count(lit(1)).as("n_rows"),
          dbl(sum(decTotal(col("o_totalprice")))).as("total"))
        .select(lit(phase).as("phase"), lit(dm).as("dropped_manifests"),
          lit(dc).as("dropped_commits"), lit(oldest).as("oldest_version"),
          col("n_rows"), col("total"))
        // pinned BEFORE the next phase's sweep deletes the very files
        // this aggregate reads — the retention contract in miniature
        .localCheckpoint(true)
    }
    phaseRow(1, 2).unionAll(phaseRow(2, 1)).orderBy("phase")
  }

  // m54 — BRANCHES + TAGS over the versioned warehouse (Iceberg
  // CREATE BRANCH / fast_forward, Nessie's git-for-data;
  // core/Branches.scala): a staging branch takes N commits in full
  // isolation — `main` readers keep resolving their own head, pinned
  // here BEFORE the publish (phase 1) — then `main` fast-forwards to
  // the branch head in ONE ref-file rename (phases 2/3: dev and the
  // published main read identically). A tag freezes the release
  // version immutably. This is m33's write-audit-publish generalized
  // from one staged table to a whole commit HISTORY, and the
  // reference's CI-schema isolation (copier.py:110-284) at the cost
  // of a JSON file instead of a table copy. Divergence refusal, tag
  // immutability, crash residue, and ref-protected expiry are
  // EngineSpec-pinned; the oracle reproduces each phase's snapshot
  // from source predicates + the deterministic commit topology
  // (version numbers are global allocation slots: v1 trunk, v2/v3
  // dev — exactly the literals below).
  val m54: Q = q("m54_table_branches",
    """WITH v1 AS (SELECT o_totalprice FROM orders
      |           WHERE o_orderdate < TIMESTAMP '1996-07-01'),
      |v3 AS (SELECT o_totalprice FROM orders
      |       WHERE o_totalprice <= CAST(300000 AS DOUBLE))
      |SELECT 1 AS phase, 'main' AS ref, CAST(1 AS INT) AS version,
      |  (SELECT COUNT(*) FROM v1) AS n_rows,
      |  (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) FROM v1) AS total
      |UNION ALL
      |SELECT 2, 'dev', CAST(3 AS INT), (SELECT COUNT(*) FROM v3),
      |  (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) FROM v3)
      |UNION ALL
      |SELECT 3, 'main', CAST(3 AS INT), (SELECT COUNT(*) FROM v3),
      |  (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) FROM v3)
      |ORDER BY phase""") { (spark, dir) =>
    val c = Catalog(spark, dir)
    val wh = Warehouse.scratch(spark, "m54")
    val src = ordersSrc(c)
    TimeTravel.commit(wh, "analytics", "orders_br",
      src.filter(col("o_orderdate") < cutoff), "overwrite") // v1 (trunk)
    Branches.create(wh, "analytics", "orders_br", "dev")
    Branches.commitTo(wh, "analytics", "orders_br", "dev",
      src.filter(col("o_orderdate") >= cutoff), "append") // v2, dev=[1,2]
    Branches.commitTo(wh, "analytics", "orders_br", "dev",
      src.filter(col("o_totalprice") <= 300000.0), "overwrite") // v3
    Branches.create(wh, "analytics", "orders_br", "release",
      from = "dev", tag = true) // frozen at the audit point
    def phaseRow(phase: Int, refName: String) = {
      val v = Branches.resolve(wh, "analytics", "orders_br", refName).head
      Branches.read(wh, "analytics", "orders_br", refName)
        .agg(count(lit(1)).as("n_rows"),
          dbl(sum(decTotal(col("o_totalprice")))).as("total"))
        .select(lit(phase).as("phase"), lit(refName).as("ref"),
          lit(v).as("version"), col("n_rows"), col("total"))
    }
    // pinned BEFORE the fast-forward — isolation is the claim: main
    // still serves v1 while dev sits at v3
    val isolated = phaseRow(1, "main").localCheckpoint(true)
    Branches.fastForward(wh, "analytics", "orders_br",
      to = "main", from = "dev")
    isolated.unionAll(phaseRow(2, "dev")).unionAll(phaseRow(3, "main"))
      .orderBy("phase")
  }

  // m55 — COLUMN MAPPING (core/ColumnMapping.scala — Iceberg field-id
  // schema evolution / Delta columnMapping: rename and drop as
  // METADATA, the other half of m05's append_new_columns): a column's
  // identity is its field id, so v1-era files serve a renamed column
  // through the (id → physical name) binding of the schema they were
  // WRITTEN under — zero rewrites at any table size — and a dropped
  // field's bytes are never scanned again (the logical read's select
  // prunes them out of every era). Phase 1 reads the renamed `price`
  // across both eras; phase 2, after DROP o_orderdate + re-ADD of a
  // NEW field with the same name, proves the field-id guarantee: the
  // old eras' physical date bytes do NOT resurrect under the recycled
  // name (dated_rows counts only the post-add commit — a name-based
  // reader would count every row). Name-reuse, pruning, and collision
  // refusals are EngineSpec-pinned.
  val m55: Q = q("m55_column_mapping",
    """WITH t AS (SELECT o_orderkey, o_totalprice FROM orders),
      |x AS (SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 1000 = 0)
      |SELECT 1 AS phase, (SELECT COUNT(*) FROM t) AS n_rows,
      |  (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) FROM t) AS total,
      |  (SELECT COUNT(*) FROM t) AS dated_rows
      |UNION ALL
      |SELECT 2, (SELECT COUNT(*) FROM t) + (SELECT COUNT(*) FROM x),
      |  (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) FROM
      |     (SELECT o_totalprice FROM t UNION ALL SELECT o_totalprice FROM x)),
      |  (SELECT COUNT(*) FROM x)
      |ORDER BY phase""") { (spark, dir) =>
    val c = Catalog(spark, dir)
    val wh = Warehouse.scratch(spark, "m55")
    val root = wh.path("analytics", "orders_cm")
    val src = ordersSrc(c)
    val t0 = ColumnMapping.create(
      src.filter(col("o_orderdate") < cutoff)
        .select("o_orderkey", "o_orderdate", "o_totalprice"), root)
    val t1 = ColumnMapping.rename(t0, "o_totalprice", "price")
    val t2 = ColumnMapping.append(t1,
      src.filter(col("o_orderdate") >= cutoff)
        .select(col("o_orderkey"), col("o_orderdate"),
          col("o_totalprice").as("price")))
    def phaseRow(phase: Int, t: ColumnMapping.Table) =
      ColumnMapping.read(spark, t)
        .agg(count(lit(1)).as("n_rows"),
          dbl(sum(decTotal(col("price")))).as("total"),
          count(col("o_orderdate")).as("dated_rows"))
        .select(lit(phase).as("phase"), col("n_rows"), col("total"),
          col("dated_rows"))
    val p1 = phaseRow(1, t2) // t2's commit list is immutable — no pin needed
    val t3 = ColumnMapping.addColumn(
      ColumnMapping.drop(t2, "o_orderdate"), "o_orderdate", "TIMESTAMP")
    val t4 = ColumnMapping.append(t3,
      src.filter(col("o_orderkey") % 1000 === 0)
        .select(col("o_orderkey"), col("o_totalprice").as("price"),
          col("o_orderdate")))
    p1.unionAll(phaseRow(2, t4)).orderBy("phase")
  }

  val all: Seq[Q] = Seq(m01, m02, m03, m04, m05, m06, m07, m08, m09, m10,
    m11, m12, m13, m14, m15, m16, m17, m18, m19, m20, m21, m22, m23, m24,
    m25, m26, m27, m28, m29, m30, m31, m32, m33, m34, m35, m36, m37, m38,
    m39, m40, m41, m42, m43, m44, m45, m46, m47, m48, m49, m50, m51, m52,
    m53, m54, m55)
}
