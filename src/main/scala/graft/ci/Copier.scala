package graft.ci

import java.util.concurrent.Executors

import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.collection.mutable
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.DataFrame

import graft.core.{Fingerprint, ManifestState, Materialization, Materializer, Model,
  ModelGraph, Warehouse}

/** Result of one table clone (reference:
  * src/dbt_incremental_ci/copier.py:158-233 returns per-table status).
  */
final case class CopyResult(
    table: String,
    sourceSchema: String,
    targetSchema: String,
    rows: Long,
    dryRun: Boolean,
    status: String,
    seconds: Double = 0.0)

/** Clones production tables into an isolated CI schema — the
  * reference's core use case, re-expressed over the parquet warehouse.
  *
  *  - schema-suffix mapping `<schema>` → `<schema>_<suffix>`
  *    (reference: src/dbt_incremental_ci/copier.py:38-64);
  *  - dry-run mode that reports what WOULD copy
  *    (reference: copier.py:235-253);
  *  - a fixed-size thread pool running clones in parallel
  *    (reference: copier.py:255-271).
  *
  * A clone is a file-level copy ([[Warehouse.copyFiles]]): the
  * table's data files are copied through the Hadoop FileSystem,
  * staged and swapped in. No Spark job runs, and the clone keeps
  * prod's footers, partition layout and data version, so an
  * incremental run on top of a partitioned clone sees every prod
  * partition.
  */
final case class TableCopier(wh: Warehouse, parallelism: Int = 4) {
  import TableCopier.inParallel

  def targetSchema(sourceSchema: String, suffix: String): String =
    s"${sourceSchema}_$suffix"

  def copyTable(sourceSchema: String, table: String, suffix: String,
      dryRun: Boolean): CopyResult = {
    val tgt = targetSchema(sourceSchema, suffix)
    if (!wh.exists(sourceSchema, table))
      CopyResult(table, sourceSchema, tgt, 0L, dryRun, "missing_source")
    else {
      // row counts come from the parquet footers: no count() job
      if (dryRun)
        CopyResult(table, sourceSchema, tgt, wh.rowCount(sourceSchema, table),
          dryRun, "would_copy")
      else {
        val t0 = System.nanoTime()
        wh.copyFiles(sourceSchema, tgt, table)
        CopyResult(table, sourceSchema, tgt, wh.rowCount(tgt, table), dryRun, "copied",
          (System.nanoTime() - t0) / 1e9)
      }
    }
  }

  /** Clone `tables` from `sourceSchema` in parallel. Results come back
    * in input order regardless of completion order.
    */
  def copyAll(sourceSchema: String, tables: Seq[String], suffix: String,
      dryRun: Boolean = false): Seq[CopyResult] =
    tables.zip(inParallel(tables, parallelism)(t =>
        Try(copyTable(sourceSchema, t, suffix, dryRun)))).map {
      case (_, Success(r)) => r
      case (t, Failure(e)) =>
        CopyResult(t, sourceSchema, targetSchema(sourceSchema, suffix),
          0L, dryRun, s"error: ${e.getMessage}")
    }
}

object TableCopier {

  /** `xs.map(f)` on a pool of `threads` (in the caller's thread when
    * `threads <= 1`); results come back in input order. `f` should not
    * throw: the first failure is rethrown once every call is done.
    */
  private[ci] def inParallel[A, B](xs: Seq[A], threads: Int)(f: A => B): Seq[B] =
    if (threads <= 1 || xs.size <= 1) xs.map(f)
    else {
      val pool = Executors.newFixedThreadPool(math.min(threads, xs.size))
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
      try Await.result(Future.traverse(xs)(x => Future(f(x))), Duration.Inf)
      finally pool.shutdown()
    }
}

/** The detect→filter→copy orchestration (reference:
  * src/dbt_incremental_ci/core.py + dbt_helper.py:88-162): diff the
  * old manifest against the current graph, expand to the downstream
  * closure (`state:modified+`), and keep only the nodes whose prod
  * state a CI run actually needs pre-seeded — incremental models and
  * snapshots. A closure table is rebuilt unless [[cutoff]] shows its
  * build would reproduce prod's table, which CI then copies instead.
  */
object IncrementalCI {

  final case class Selection(
      directlyModified: Set[String],
      closure: Set[String],
      cloneTargets: Seq[String])

  def select(graph: ModelGraph, oldState: ManifestState): Selection = {
    val modified = oldState.diff(graph)
    val closure = graph.modifiedPlus(modified)
    val targets = graph.models.collect {
      case m if closure.contains(m.name) && isCloneTarget(m) => m.name
    }
    Selection(modified, closure, targets)
  }

  private[graft] def isCloneTarget(m: Model): Boolean = m.materialization match {
    case Materialization.Incremental(_) => true
    case Materialization.Snapshot(_, _) => true
    case _ => false
  }

  /** Early cutoff over the closure, walked in topological order: a
    * persisted node's CI table can be a copy of prod's when all of
    * these hold:
    *  - no fail-closed reason ([[Fingerprint.refusal]]; `--full-refresh`
    *    turns reuse off);
    *  - no input built in this check: every closure input is reused,
    *    or a view over reused inputs;
    *  - the fingerprint of the node's CI plan, with every input
    *    resolved to prod (a reused node's copy holds prod's files),
    *    equals the one prod's run recorded;
    *  - prod's table still has the data version that run recorded.
    * Planning a node runs no job. A node whose planning throws
    * (a contract violation, say) builds, and its build fails the same
    * way.
    *
    * A candidate's plan reads only prod, so it does not depend on any
    * other verdict: with `threads > 1` every candidate (a persisted
    * node with no refusal and a prod stamp) is planned and
    * fingerprinted at once on that many threads, and the walk then
    * takes the verdicts in order as it would alone. A node that turns
    * out to have a built input drops its plan, so `plans` only ever
    * holds plans whose inputs the build reads as planned.
    */
  def cutoff(graph: ModelGraph, ciGraph: ModelGraph, order: Seq[String],
      prod: ManifestState, mat: Materializer, resolve: String => DataFrame,
      fullRefresh: Boolean, threads: Int = 1): Cutoff = {
    def attempt(n: String): Try[(DataFrame, Try[Either[String, String]])] =
      Try(mat.plan(ciGraph.byName(n), resolve)).map(df =>
        df -> Try(matches(graph.byName(n), df, prod.stamps(n), mat.wh)))
    val candidates =
      if (fullRefresh || threads <= 1) Nil
      else order.filter { n =>
        val m = graph.byName(n)
        m.materialization != Materialization.View && Fingerprint.refusal(m).isEmpty &&
          prod.stamps.contains(n)
      }
    val ahead = candidates.zip(TableCopier.inParallel(candidates, threads)(attempt)).toMap
    val built = mutable.Set.empty[String]
    val verdicts = mutable.Map.empty[String, Either[String, String]]
    val plans = mutable.Map.empty[String, DataFrame]
    for (n <- order) {
      val m = graph.byName(n)
      val builtInput = m.deps.find(built)
      if (m.materialization == Materialization.View) builtInput.foreach(_ => built += n)
      else {
        val verdict = (Fingerprint.refusal(m), prod.stamps.get(n)) match {
          case (Some(why), _) => Left(why)
          case _ if fullRefresh => Left("full refresh")
          case _ if builtInput.isDefined => Left(s"input ${builtInput.get} builds in CI")
          case (_, None) => Left("no prod fingerprint")
          case _ => ahead.getOrElse(n, attempt(n)) match {
            case Failure(e) => Left(s"planning failed: ${e.getMessage}")
            case Success((df, matched)) => plans(n) = df; matched.get
          }
        }
        if (verdict.isLeft) built += n
        verdicts(n) = verdict
      }
    }
    Cutoff(verdicts.toMap, plans.toMap)
  }

  private def matches(m: Model, df: DataFrame, stamp: Fingerprint.Stamp,
      wh: Warehouse): Either[String, String] =
    Fingerprint.of(m, df).flatMap { fp =>
      if (fp != stamp.fingerprint)
        Left(s"fingerprint ${fp.take(12)} differs from prod's ${stamp.fingerprint.take(12)}")
      else if (Fingerprint.dataVersion(wh.spark, wh.path(m.targetSchema, m.name)) !=
          stamp.dataVersion) Left("prod table changed since its run")
      else Right(fp)
    }

  /** [[cutoff]]'s result: per persisted closure node, Right(fingerprint)
    * to reuse or Left(reason) to build, and the outputs it planned.
    * The planned outputs read only prod and reused inputs, so a node
    * that builds can write its plan as is.
    */
  final case class Cutoff(verdicts: Map[String, Either[String, String]],
      plans: Map[String, DataFrame])
}
