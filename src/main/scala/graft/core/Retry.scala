package graft.core

import org.apache.spark.sql.DataFrame

/** dbt `retry`: resume a failed run from its point of failure instead
  * of rebuilding the whole DAG. A RUN JOURNAL (warehouse artifact,
  * committed after EACH model completes — so a crash at any point
  * leaves an accurate record) maps model name → checksum; the retry
  * skips every journaled model whose checksum still matches and whose
  * materialization survives on disk, resolves its refs from the
  * warehouse, and executes everything else in topological order.
  *
  * Semantics matched to dbt:
  *  - a model EDITED between failure and retry re-runs (checksum
  *    mismatch — dbt re-runs modified nodes rather than trusting a
  *    stale success);
  *  - views are never journaled or skipped: they materialize nothing
  *    and recompose lazily into downstream plans at zero cost;
  *  - the journal clears when the whole run succeeds, so the next
  *    invocation is a fresh run — retry only ever resumes the LAST
  *    failed invocation.
  *
  * At scale this is the difference between re-paying a day of
  * upstream build and re-running only the node that died plus its
  * downstream cone.
  */
object Retry {

  val artifactName = "run_journal.json"

  /** Pre-write intent marker: committed BEFORE a persisted model
    * materializes, cleared by the journal commit that follows it. A
    * hard crash BETWEEN the table write and the journal commit leaves
    * the model un-journaled but possibly written — idempotent
    * materializations (table, merge, insert-overwrite) just redo the
    * work on retry, but an APPEND-strategy incremental would
    * duplicate the batch. The intent record makes that ambiguous
    * state detectable: on retry, an intent-without-journal for an
    * append model whose target exists forces a full refresh of that
    * one model instead of a blind re-append.
    */
  val intentArtifact = "run_intent.json"

  private def toJson(j: Map[String, String]): String =
    j.toSeq.sorted.map { case (n, cs) => s""""$n":"$cs"""" }
      .mkString("{", ",", "}")

  private def fromJson(s: String): Map[String, String] =
    """"([^"]+)"\s*:\s*"([0-9a-f]+)"""".r.findAllMatchIn(s)
      .map(m => m.group(1) -> m.group(2)).toMap

  def loadJournal(wh: Warehouse): Map[String, String] =
    wh.loadArtifact(artifactName).map(fromJson).getOrElse(Map.empty)

  /** Commit a journal (or intent) map; tests plant crash states here. */
  private[graft] def commit(wh: Warehouse, journal: Map[String, String],
      artifact: String = artifactName): Unit =
    wh.saveArtifact(artifact, toJson(journal))

  /** Clear the journal and the intents: a fresh run starts here, a
    * successful one ends here.
    */
  def reset(wh: Warehouse): Unit = {
    commit(wh, Map.empty)
    commit(wh, Map.empty, intentArtifact)
  }

  private def isAppend(m: Model): Boolean = m.materialization match {
    case Materialization.Incremental(IncrementalStrategy.Append(_)) => true
    case _ => false
  }

  /** A hook's journal entry (`key` at `cs`), reported as `label`. */
  private final case class Step(label: String, key: String, cs: String)

  /** Run-level hook keys are namespaced so a hook can never collide with
    * a model of the same name.
    */
  private def runStep(h: Hook) = Step(h.name, s"hook:${h.name}", h.checksum)

  /** Per-model hooks (dbt pre_hook/post_hook) journal with their
    * identity BOUND to the model's checksum: editing the model
    * invalidates its hooks' entries (dbt re-runs the full node), while a
    * pure crash-resume skips side effects that already applied.
    */
  private def modelSteps(m: Model, hs: Seq[Hook]): Seq[(Step, Hook)] =
    hs.map(h => Step(s"${m.name}.${h.name}", s"hook:${m.name}:${h.name}",
      Checksum.md5(h.checksum + "|" + m.checksum)) -> h)

  /** The journaled run behind `run`, `run --selector` and `retry`: of
    * the `only` models (default: all), those the journal holds
    * completed and unchanged are skipped, the rest build on the
    * [[Runner]] at `threads`, and refs to models it does not build read
    * the warehouse ([[Runner.deferResolve]]). The intent commits at
    * model start; the journal entry after the model's write and before
    * its post-hooks. Hooks journal like models, and a skipped model's
    * un-journaled post-hooks still fire. On-run-end hooks always fire
    * (a failed run never reached them).
    *
    * Returns (ran, skipped) in topological order, hooks included;
    * throws the failing model's error once the journal holds everything
    * completed before it. `onModelStart`/`onModelDone` are the Runner's.
    */
  def run(graph: ModelGraph, mat: Materializer,
      sources: String => DataFrame, wh: Warehouse,
      fullRefresh: Boolean = false,
      hooks: RunHooks = RunHooks(),
      threads: Int = 1,
      only: Option[Set[String]] = None,
      onModelStart: String => Unit = _ => (),
      onModelDone: (String, Double) => Unit = (_, _) => ()): (Seq[String], Seq[String]) = {
    val journal0 = loadJournal(wh)
    // CUMULATIVE: the failed run's intents must survive this retry's
    // own intent commits — if the retry itself crashes before reaching
    // a later append model, the next retry still needs to know that
    // model may hold an unjournaled batch
    val intents0 = wh.loadArtifact(intentArtifact).map(fromJson).getOrElse(Map.empty)
    // submitter threads commit under one lock
    val lock = new Object
    var journal = journal0
    var intents = intents0
    def record(key: String, cs: String): Unit =
      lock.synchronized { journal += key -> cs; commit(wh, journal) }
    // each model and hook runs at most once per run, so "completed" is
    // a question about the journal the run started from
    def done(key: String, cs: String): Boolean = journal0.get(key).contains(cs)
    def once(s: Step, h: Hook): Hook = h.copy(action = () =>
      if (!done(s.key, s.cs)) { h.action(); record(s.key, s.cs) })
    def persisted(m: Model) = m.materialization != Materialization.View
    val order = graph.topoOrder.filter(n => only.forall(_(n)))
    val skip = order.filter { n =>
      val m = graph.byName(n)
      persisted(m) && done(n, m.checksum) && wh.exists(m.targetSchema, n)
    }.toSet
    hooks.onRunStart.foreach(h => once(runStep(h), h).action())
    // crash window: model journaled, post-hook not yet fired
    for (n <- order if skip(n); m = graph.byName(n); (s, h) <- modelSteps(m, m.postHooks))
      once(s, h).action()
    val journaled = ModelGraph(graph.models.map(m => m.copy(
      preHooks = modelSteps(m, m.preHooks).map((once _).tupled),
      postHooks = modelSteps(m, m.postHooks).map((once _).tupled))))
    Runner(mat, Runner.deferResolve(graph, wh, sources), fullRefresh, threads,
      onModelStart = n => {
        onModelStart(n)
        val m = graph.byName(n)
        if (persisted(m)) lock.synchronized {
          intents += n -> m.checksum
          commit(wh, intents, intentArtifact)
        }
        // the crash window: an intent with NO journal entry means this
        // append target may already hold the batch, so it rebuilds from
        // scratch. Matched by NAME: the fix-then-retry flow edits the
        // model between crash and retry. A journal entry at ANY checksum
        // means its last write committed, so an edited-but-completed
        // append model keeps its history.
        if (isAppend(m) && intents0.contains(n) && !journal0.contains(n))
          wh.drop(m.targetSchema, n)
      },
      onModelDone = (n, sec) => {
        val m = graph.byName(n)
        if (persisted(m)) record(n, m.checksum)
        onModelDone(n, sec)
      }).runSelected(journaled, order.filterNot(skip))
    hooks.onRunEnd.foreach(_.action())
    reset(wh)
    def row(s: Step) = s.label -> done(s.key, s.cs)
    val steps = hooks.onRunStart.map(h => row(runStep(h))) ++
      order.flatMap { n =>
        val m = graph.byName(n)
        def hookRows(hs: Seq[Hook]) = modelSteps(m, hs).map(sh => row(sh._1))
        if (skip(n)) (n -> true) +: hookRows(m.postHooks)
        else hookRows(m.preHooks) ++ ((n -> false) +: hookRows(m.postHooks))
      } ++ hooks.onRunEnd.map(_.name -> false)
    val (skipped, ran) = steps.partition(_._2)
    (ran.map(_._1), skipped.map(_._1))
  }
}
