package graft.ci

import java.util.concurrent.Executors

import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.util.{Failure, Success, Try}

import graft.core.{ManifestState, Materialization, Model, ModelGraph, Warehouse}

/** Result of one table clone (reference:
  * src/dbt_incremental_ci/copier.py:158-233 returns per-table status).
  */
final case class CopyResult(
    table: String,
    sourceSchema: String,
    targetSchema: String,
    rows: Long,
    dryRun: Boolean,
    status: String)

/** Clones production tables into an isolated CI schema — the
  * reference's core use case, re-expressed over the parquet warehouse.
  *
  *  - schema-suffix mapping `<schema>` → `<schema>_<suffix>`
  *    (reference: src/dbt_incremental_ci/copier.py:38-64);
  *  - dry-run mode that reports what WOULD copy
  *    (reference: copier.py:235-253);
  *  - a fixed-size thread pool running clones in parallel
  *    (reference: copier.py:255-271). Spark schedules each clone's
  *    read→write job concurrently from its own submitter thread; the
  *    data path is fully distributed (no driver collect).
  */
final case class TableCopier(wh: Warehouse, parallelism: Int = 4) {

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
        wh.write(wh.read(sourceSchema, table), tgt, table)
        CopyResult(table, sourceSchema, tgt, wh.rowCount(tgt, table), dryRun, "copied")
      }
    }
  }

  /** Clone `tables` from `sourceSchema` in parallel. Results come back
    * in input order regardless of completion order.
    */
  def copyAll(sourceSchema: String, tables: Seq[String], suffix: String,
      dryRun: Boolean = false): Seq[CopyResult] = {
    val pool = Executors.newFixedThreadPool(math.max(1, parallelism))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      val futures = tables.map { t =>
        Future(Try(copyTable(sourceSchema, t, suffix, dryRun)))
      }
      tables.zip(Await.result(Future.sequence(futures), Duration.Inf)).map {
        case (_, Success(r)) => r
        case (t, Failure(e)) =>
          CopyResult(t, sourceSchema, targetSchema(sourceSchema, suffix),
            0L, dryRun, s"error: ${e.getMessage}")
      }
    } finally pool.shutdown()
  }
}

/** The detect→filter→copy orchestration (reference:
  * src/dbt_incremental_ci/core.py + dbt_helper.py:88-162): diff the
  * old manifest against the current graph, expand to the downstream
  * closure (`state:modified+`), and keep only the nodes whose prod
  * state a CI run actually needs pre-seeded — incremental models and
  * snapshots. Views/tables are rebuilt from scratch by CI anyway.
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

  /** Detect, filter, and clone in one call; returns (selection, copy
    * results for the clone targets).
    */
  def run(graph: ModelGraph, oldState: ManifestState, copier: TableCopier,
      sourceSchema: String, suffix: String,
      dryRun: Boolean = false): (Selection, Seq[CopyResult]) = {
    val sel = select(graph, oldState)
    (sel, copier.copyAll(sourceSchema, sel.cloneTargets, suffix, dryRun))
  }
}
