package graft.core

import java.util.concurrent.{ConcurrentHashMap, Executors}

import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}

import org.apache.spark.sql.DataFrame

/** Topological DAG runner — `dbt run` over a graft ModelGraph: every
  * model executes after its deps, `ref()` resolves to the dep's
  * materialized output, unknown names fall through to raw sources
  * (dbt `source()`).
  *
  * Driver-side loop is O(models), not O(data): each step only declares
  * the next Spark job. Views stay lazy (their plan is composed into
  * downstream models — Catalyst sees through them, exactly like a SQL
  * view), so a 3-layer staging→intermediate→mart pipeline collapses
  * into as few physical jobs as there are persisted models.
  *
  * `threads > 1` is dbt's `--threads`: models whose deps have all
  * completed run CONCURRENTLY from a fixed submitter pool (reference:
  * src/dbt_incremental_ci/cli.py `--threads` option + copier.py:255-271
  * thread pool). Completion-driven, not level-synchronized — each
  * model's future fires the moment its own deps finish, so a slow
  * model in one branch never barriers an independent branch. Spark
  * schedules the concurrent jobs across the cluster; the submitter
  * threads only declare work. At 100 TB this is the difference between
  * the cluster idling through every per-model tail and keeping the
  * executors saturated across independent subtrees.
  *
  * Per-model hooks fire unjournaled here; [[Retry.run]] is the
  * journaled run over this Runner that `graft.Main`'s `run` and `retry`
  * go through.
  */
final case class Runner(mat: Materializer, sources: String => DataFrame,
    fullRefresh: Boolean = false, threads: Int = 1,
    onModelDone: (String, Double) => Unit = (_, _) => (),
    onModelStart: String => Unit = _ => (),
    hooks: RunHooks = RunHooks()) {

  private def runModel(model: Model,
      resolve: String => DataFrame): DataFrame = {
    // fired IMMEDIATELY before the model's hooks and materialization —
    // the journaled run ([[Retry.run]]) records its pre-write intent
    // here, so the intent marks exactly the models that may be
    // written-but-unjournaled after a crash (never the ones the run
    // hadn't reached)
    onModelStart(model.name)
    val t0 = System.nanoTime()
    // per-model hooks bracket the materialization (dbt pre_hook /
    // post_hook): the pre-hook's side effects are visible to the
    // model's own transform (fixture DDL it reads), the post-hook
    // sees the freshly written target (grants, audit rows)
    model.preHooks.foreach(_.action())
    val out = mat.run(model, resolve, fullRefresh)
    // the model is done once its table is written: its seconds cover
    // the pre-hooks and the build, and the journaled run commits the
    // model here, so a post-hook that throws leaves it journaled.
    // Called from submitter threads under `threads > 1`, so collectors
    // must be thread-safe.
    onModelDone(model.name, (System.nanoTime() - t0) / 1e9)
    model.postHooks.foreach(_.action())
    out
  }

  /** Run every model in topological order; returns name → output.
    * `on-run-start` hooks fire before the first model, `on-run-end`
    * hooks after the last completes (dbt_project.yml lifecycle hooks
    * — the reference bootstraps its `raw_edu` DDL this way). These
    * run-level hooks attach to FULL runs only: a selected subset
    * (`runSelected`, the CI closure path) is dbt's `--select`, which
    * still fires hooks in dbt but here the caller owns its own setup.
    */
  def runAll(graph: ModelGraph): Map[String, DataFrame] = {
    hooks.onRunStart.foreach(_.action())
    val out = runSelected(graph, graph.topoOrder)
    hooks.onRunEnd.foreach(_.action())
    out
  }

  /** Run `names` (must already be topologically ordered). */
  def runSelected(graph: ModelGraph, names: Seq[String]): Map[String, DataFrame] =
    if (threads <= 1) runSequential(graph, names)
    else runParallel(graph, names)

  private def runSequential(graph: ModelGraph,
      names: Seq[String]): Map[String, DataFrame] =
    names.foldLeft(Map.empty[String, DataFrame]) { (acc, name) =>
      val model = graph.byName(name)
      val resolve: String => DataFrame = n => acc.getOrElse(n, sources(n))
      acc + (name -> runModel(model, resolve))
    }

  /** One future per model, sequenced on its deps' futures only — deps
    * outside the selection resolve through `sources` exactly as in the
    * sequential path (the CI runner passes a defer-resolver there).
    * A failed model fails its downstream futures; independent branches
    * keep running to completion before the first error propagates.
    */
  private def runParallel(graph: ModelGraph,
      names: Seq[String]): Map[String, DataFrame] = {
    val pool = Executors.newFixedThreadPool(threads)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    val done = new ConcurrentHashMap[String, DataFrame]()
    try {
      val futures = scala.collection.mutable.Map.empty[String, Future[Unit]]
      for (name <- names) { // topo order => dep futures already created
        val model = graph.byName(name)
        val depFutures = model.deps.flatMap(futures.get)
        futures(name) = Future.sequence(depFutures).map { _ =>
          val resolve: String => DataFrame =
            n => Option(done.get(n)).getOrElse(sources(n))
          done.put(name, runModel(model, resolve))
          ()
        }
      }
      // settle EVERY future before surfacing an error (dbt finishes
      // in-flight models before exiting): each is recovered into an
      // outcome, the barrier waits for all, then the first failure in
      // topo order rethrows.
      val settled = Future.sequence(names.map(n =>
        futures(n).map(_ => None: Option[Throwable])
          .recover { case e => Some(e) }))
      Await.result(settled, Duration.Inf).flatten.headOption.foreach(throw _)
      names.map(n => n -> done.get(n)).toMap
    } finally { pool.shutdown(); () }
  }
}

object Runner {

  /** dbt `--defer`, the resolver for every ref a run does not build: a
    * model reads its warehouse state in its unsuffixed schema (views
    * compose their plan in place), any other name is a raw source. The
    * resolution `dbt ls --select modified+ --defer` sets up (reference:
    * src/dbt_incremental_ci/dbt_helper.py:29-86).
    */
  def deferResolve(graph: ModelGraph, wh: Warehouse,
      srcs: String => DataFrame): String => DataFrame = {
    // memoized: CI's early-cutoff walk and its build resolve the same
    // prod tables and sources, and each read is a footer read plus a
    // listing. The walk and the Runner resolve from several threads, so
    // each name gets one holder whose lazy value resolves it once; a
    // view's refs resolve through other holders, never inside the map.
    val memo = scala.collection.concurrent.TrieMap.empty[String, Once]
    final class Once(name: String) { lazy val df: DataFrame = resolved(name) }
    def resolve(name: String): DataFrame = memo.getOrElseUpdate(name, new Once(name)).df
    def resolved(name: String): DataFrame = graph.byName.get(name) match {
      case Some(m) =>
        m.materialization match {
          case Materialization.View =>
            m.transform(new ModelCtx {
              def source(n: String): DataFrame = resolve(n)
              def ref(n: String): DataFrame = resolve(n)
              def thisTable: Option[DataFrame] = None
            })
          case _ => wh.read(m.schema, m.name)
        }
      case None => srcs(name)
    }
    resolve
  }
}

/** A lifecycle hook: run-level (dbt `on-run-start` / `on-run-end`,
  * dbt_project.yml — the reference uses on-run-start to bootstrap its
  * `raw_edu` source DDL before any model runs) or per-model
  * (`Model.preHooks` / `postHooks`). `body` stands in for the hook's
  * SQL text: its hash is the journal checksum, so a journaled run
  * ([[Retry.run]]) skips completed-and-unchanged hooks exactly as it
  * skips models, and an EDITED hook re-fires.
  */
final case class Hook(name: String, body: String, action: () => Unit) {
  def checksum: String = Checksum.md5(name + "|" + body)
}

/** The declared lifecycle hooks of a project run. */
final case class RunHooks(onRunStart: Seq[Hook] = Nil,
    onRunEnd: Seq[Hook] = Nil)
