package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Executes a model against a warehouse — dbt's materialization layer
  * re-expressed over parquet + DataFrames.
  *
  * Scale notes (the reason each strategy looks the way it does):
  *  - `Append` reads ONE scalar (max watermark) to the driver, from
  *    the parquet footers' statistics when they tell, then writes
  *    only the new rows; the target is never rewritten.
  *  - `Merge` has no transactional MERGE on plain parquet, so it is
  *    copy-on-write: union(new, existing) → latest-per-key via a
  *    single shuffle on the unique key. On a real lakehouse table
  *    format this maps 1:1 to MERGE INTO; semantics are identical.
  *  - `InsertOverwrite` uses dynamic partition overwrite — only the
  *    partitions present in the incoming batch are replaced, a
  *    metadata swap per partition, no full-table rewrite.
  */
final case class Materializer(wh: Warehouse,
    /** Called with every model's planned output, after its contract
      * holds and before it writes: `run` fingerprints its models here.
      */
    onPlanned: (Model, DataFrame) => Unit = (_, _) => (),
    /** Outputs already planned by [[plan]] over the same inputs (CI's
      * early-cutoff walk): `run` writes these instead of planning the
      * model again.
      */
    plans: Map[String, DataFrame] = Map.empty) {
  private def spark: SparkSession = wh.spark

  private final class Ctx(model: Model, resolve: String => DataFrame) extends ModelCtx {
    def source(name: String): DataFrame = resolve(name)
    def ref(name: String): DataFrame = resolve(name)
    def thisTable: Option[DataFrame] =
      if (wh.exists(model.targetSchema, model.name))
        Some(wh.read(model.targetSchema, model.name))
      else None
  }

  /** Run one model. `resolve` maps a dep/source name to its DataFrame
    * (the runner passes materialized refs; raw names fall through to
    * sources). Returns the model's current full contents.
    *
    * `fullRefresh` is dbt's `--full-refresh`: an incremental model
    * drops its target and rebuilds from scratch (the escape hatch for
    * schema breaks and backfills).
    */
  def run(model: Model, resolve: String => DataFrame,
      fullRefresh: Boolean = false): DataFrame = {
    if (fullRefresh) (model.materialization match {
      case Materialization.Incremental(_) =>
        wh.drop(model.targetSchema, model.name)
      case _ => ()
    })
    val ctx = new Ctx(model, resolve)
    val out = plans.getOrElse(model.name, planned(model, ctx))
    onPlanned(model, out)
    model.materialization match {
      case Materialization.View =>
        out // never persisted; caller composes the plan downstream

      case Materialization.Table =>
        wh.write(out, model.targetSchema, model.name)
        wh.read(model.targetSchema, model.name)

      case Materialization.Snapshot(key, updatedAt) =>
        Snapshot.capture(wh, model.targetSchema, model.name, out, key, updatedAt)
        wh.read(model.targetSchema, model.name)

      case Materialization.Incremental(strategy) =>
        ctx.thisTable match {
          case None =>
            val partCols = strategy match {
              case IncrementalStrategy.InsertOverwrite(cols) => cols
              case m: IncrementalStrategy.Merge => m.partitionBy
              case IncrementalStrategy.Microbatch(p, _) => Seq(p)
              case _ => Nil
            }
            wh.write(out, model.targetSchema, model.name, partitionBy = partCols)
          case Some(existing) =>
            runIncremental(model, strategy, existing, out)
        }
        wh.read(model.targetSchema, model.name)
    }
  }

  /** The model's output as `run` would write it, planned but not
    * run: what CI fingerprints before deciding to build.
    */
  def plan(model: Model, resolve: String => DataFrame): DataFrame =
    planned(model, new Ctx(model, resolve))

  private def planned(model: Model, ctx: Ctx): DataFrame = {
    val out = model.transform(ctx)
    // dbt contract enforcement: schema-level, BEFORE any write — a
    // drifted public shape fails the build, nothing materializes
    model.contract.foreach(Contract.enforce(model.name, out.schema, _))
    out
  }

  private def runIncremental(model: Model, strategy: IncrementalStrategy,
      existing: DataFrame, incoming: DataFrame): Unit = {
    strategy match {
      case IncrementalStrategy.Append(wm) =>
        // dbt: where wm > (select max(wm) from this) — one scalar,
        // from the footers' statistics where they tell (no job), else
        // from the query; then a pure append of the new slice.
        val maxWm = wh.footerMax(model.targetSchema, model.name, wm)
          .getOrElse(existing.agg(max(col(wm))).head.get(0))
        val fresh =
          if (maxWm == null) incoming
          else incoming.filter(col(wm) > lit(maxWm))
        val tgt = targetSchemaOf(model, existing, incoming)
        if (tgt == existing.columns.toSeq) {
          wh.write(alignTo(tgt, fresh), model.targetSchema, model.name,
            mode = "append")
        } else {
          // schema evolved (append_new_columns): plain parquet appends
          // with a wider schema would make reads footer-dependent, so
          // back-fill via one rewrite — on a lakehouse format this is
          // a metadata-only ALTER TABLE ADD COLUMNS instead.
          val staged = alignTo(tgt, existing).unionByName(alignTo(tgt, fresh))
          wh.overwriteStaged(staged, model.targetSchema, model.name)
        }

      case IncrementalStrategy.Merge(keys, wmOpt, partCols, predOpt, lww, tiebreak) =>
        // Latest-per-key: incoming wins over existing; within a batch,
        // higher watermark wins. One shuffle on the unique key.
        // With partitionBy set, the merge is PARTITION-SCOPED: only
        // the partitions the batch touches are read (partition-pruned
        // scan — the predicate is equality on partition columns, so it
        // prunes directories, not rows) and only those are rewritten.
        val tgt = targetSchemaOf(model, existing, incoming)
        val newer = alignTo(tgt, incoming).withColumn("__is_new", lit(1))
        val existingSide =
          if (partCols.isEmpty) existing
          else {
            // touched-partition list: one distinct over the batch,
            // driver-bounded by the batch's partition count
            val touched = incoming.select(partCols.map(col): _*)
              .distinct().collect()
            // empty batch => false predicate => empty merge => no swaps
            val pred = touched.map(r => partCols.zipWithIndex.map {
                case (c, i) =>
                  if (r.isNullAt(i)) col(c).isNull else col(c) === lit(r.get(i))
              }.reduce(_ && _)).reduceOption(_ || _).getOrElse(lit(false))
            existing.filter(pred)
          }
        // dbt incremental_predicates: only the predicate-passing slice
        // of the target enters the key-matching shuffle; everything
        // else is carried through untouched (even same-key rows — the
        // documented semantics). MERGE rule: a NULL predicate row is
        // not matched, i.e. untouched.
        val (scanned, untouched) = predOpt match {
          case None => (existingSide, None)
          case Some(p) =>
            (existingSide.filter(p),
              Some(existingSide.filter(!coalesce(p, lit(false)))))
        }
        val older = alignTo(tgt, scanned).withColumn("__is_new", lit(0))
        // incoming-wins (dbt): is_new first, watermark breaks in-batch
        // ties. last-write-wins (CDC apply): watermark first — a LATE
        // incoming row loses to a newer target row. Declared tiebreak
        // columns resolve EXACT watermark ties before batch recency
        // (__is_new) does — which micro-batch delivered a row is an
        // accident of delivery, not a fact about the data, so without
        // a tiebreak equal-ts rows split across batches would merge
        // nondeterministically. __is_new stays last: redelivery of the
        // identical change is an update, not a no-op.
        require(!lww || wmOpt.nonEmpty,
          "lastWriteWins merge needs a watermark column to order by")
        val tb = tiebreak.map(c => col(c).desc)
        val ordering =
          if (lww) wmOpt.map(c => col(c).desc).toSeq ++ tb :+ col("__is_new").desc
          else col("__is_new").desc +: (wmOpt.map(c => col(c).desc).toSeq ++ tb)
        val w = Window.partitionBy(keys.map(col): _*).orderBy(ordering: _*)
        val mergedScanned = newer.unionByName(older)
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1)
          .drop("__rn", "__is_new")
        val merged = untouched match {
          case Some(u) => mergedScanned.unionByName(alignTo(tgt, u))
          case None => mergedScanned
        }
        if (partCols.isEmpty)
          wh.overwriteStaged(merged, model.targetSchema, model.name)
        else
          wh.overwritePartitionsStaged(merged, model.targetSchema, model.name,
            partCols)

      case IncrementalStrategy.InsertOverwrite(partCols) =>
        // dynamic mode scoped to THIS write only — a session-level
        // conf.set would leak into every later overwrite in the session
        val aligned = alignTo(targetSchemaOf(model, existing, incoming), incoming)
        wh.write(aligned, model.targetSchema, model.name,
          mode = "overwrite", partitionBy = partCols,
          options = Map("partitionOverwriteMode" -> "dynamic"))

      case IncrementalStrategy.Microbatch(periodCol, lookback) =>
        // dbt microbatch: recompute only the periods from
        // (newest target period - lookback) forward, one
        // dynamic-partition-overwrite job per period — each job is the
        // per-batch retry unit, and the period filter pushes down into
        // the batch's source scan (same physical effect as dbt
        // injecting the batch window into source()/ref()). Periods
        // older than the window — even if present in the incoming
        // frame — are NOT rewritten. The period is a partition column,
        // which no footer holds, so its max is always a query.
        val maxPeriod = existing.agg(max(col(periodCol))).head.getDate(0)
        val startMonth = java.sql.Date.valueOf(
          maxPeriod.toLocalDate.minusMonths(lookback.toLong))
        val windowed = incoming.filter(col(periodCol) >= lit(startMonth))
        val periods = windowed.select(col(periodCol)).distinct()
          .collect().map(_.getDate(0)).sorted(Ordering.by[java.sql.Date, Long](_.getTime))
        periods.foreach { p =>
          wh.write(windowed.filter(col(periodCol) === lit(p)),
            model.targetSchema, model.name,
            mode = "overwrite", partitionBy = Seq(periodCol),
            options = Map("partitionOverwriteMode" -> "dynamic"))
        }

      case IncrementalStrategy.DeleteInsert(keys) =>
        // delete: one LEFT ANTI join of the target against the batch's
        // distinct keys (shuffle on the key; the key set is the
        // batch's, so it broadcasts when the batch is small). insert:
        // the whole batch, key multiplicity preserved. On a lakehouse
        // format this commit is DELETE WHERE key IN (batch) + INSERT.
        val tgt = targetSchemaOf(model, existing, incoming)
        val in = alignTo(tgt, incoming)
        val kept = alignTo(tgt, existing)
          .join(in.select(keys.map(col): _*).distinct(), keys, "left_anti")
        wh.overwriteStaged(kept.unionByName(in), model.targetSchema, model.name)
    }
  }

  /** Target column list after applying on_schema_change. */
  private def targetSchemaOf(model: Model, existing: DataFrame,
      incoming: DataFrame): Seq[String] = {
    val have = existing.columns.toSeq
    val extra = incoming.columns.toSeq.filterNot(have.contains)
    model.onSchemaChange match {
      case OnSchemaChange.Ignore => have
      case OnSchemaChange.AppendNewColumns => have ++ extra
      case OnSchemaChange.SyncAllColumns =>
        have.filter(incoming.columns.toSet) ++ extra
      case OnSchemaChange.Fail =>
        require(extra.isEmpty, s"schema change on ${model.name}: new columns $extra")
        have
    }
  }

  /** Project `df` to exactly `cols`, adding typed NULLs for columns it
    * lacks (dbt append_new_columns back-fill semantics).
    */
  private def alignTo(cols: Seq[String], df: DataFrame): DataFrame = {
    val present = df.columns.toSet
    df.select(cols.map(c =>
      if (present.contains(c)) col(c) else lit(null).as(c)): _*)
  }
}
