package graft.core

import org.apache.spark.sql.{Column, DataFrame}

/** Materialization strategies, mirroring the reference's dbt project
  * surface (reference: DbtEducationalDataProject/dbt_project.yml:262-283
  * — view / table / incremental with unique_key + on_schema_change).
  */
sealed trait Materialization
object Materialization {
  /** Not persisted; recomputed on reference (dbt `materialized: view`). */
  case object View extends Materialization
  /** Full rewrite every run (dbt `materialized: table`). */
  case object Table extends Materialization
  /** Incremental with optional watermark predicate and unique-key
    * merge (reference:
    * DbtEducationalDataProject/models/staging/stg_enrollments_incremental.sql:1-22).
    */
  final case class Incremental(strategy: IncrementalStrategy) extends Materialization
  /** SCD2 snapshot (dbt `snapshot` block, timestamp strategy); a
    * first-class clone target in CI selection (reference:
    * src/dbt_incremental_ci/dbt_helper.py:146-156).
    */
  final case class Snapshot(key: Seq[String], updatedAt: String) extends Materialization
}

sealed trait IncrementalStrategy
object IncrementalStrategy {
  /** Append rows newer than the target's max watermark — the
    * `where wm > (select max(wm) from this)` pattern.
    */
  final case class Append(watermarkCol: String) extends IncrementalStrategy
  /** unique_key upsert: incoming rows replace target rows with the
    * same key (dbt's default merge strategy for `unique_key`).
    *
    * `partitionBy` turns on PARTITION-SCOPED merge (dbt
    * `incremental_predicates` / lakehouse MERGE with partition
    * pruning): the target is stored partitioned on these columns, and
    * a merge rewrites ONLY the partitions present in the incoming
    * batch — untouched partitions are neither read nor written, so a
    * one-partition batch against a 100 TB table costs one partition,
    * not a full-table copy-on-write. Constraint (same as dbt
    * insert_overwrite and lakehouse partition-pruned MERGE): a key
    * must not move between partitions across batches.
    *
    * `predicate` is dbt `incremental_predicates`: a row-level filter
    * on the DEST (target) side of the merge. Only target rows
    * satisfying it are scanned for key matches; every other target
    * row is carried through UNTOUCHED — including rows that share a
    * key with the batch (dbt's documented footgun: a predicate that
    * excludes a live key duplicates it). The point at 100 TB: the
    * merge's key shuffle sees only the predicate-passing slice — with
    * a predicate over the partition columns it prunes directories,
    * with any other indexed/clustered column it prunes row groups —
    * instead of the whole table. Composes with `partitionBy`.
    *
    * `lastWriteWins` flips the match rule from dbt's incoming-wins to
    * event-time last-write-wins (requires `watermarkCol`): an incoming
    * row replaces the target row only when its watermark is NEWER —
    * the lakehouse CDC-apply condition (`MERGE … AND source.ts >
    * target.ts`), which makes the merge correct under OUT-OF-ORDER
    * delivery: a late pre-delete row cannot resurrect a newer
    * tombstone. Incoming still wins watermark ties (redelivery of the
    * same change is an update, not a no-op).
    */
  final case class Merge(uniqueKey: Seq[String], watermarkCol: Option[String],
      partitionBy: Seq[String] = Nil,
      predicate: Option[Column] = None,
      lastWriteWins: Boolean = false,
      /** Extra DESC columns breaking exact watermark ties BEFORE the
        * incoming-wins rule — e.g. a monotonic event id, so two rows
        * with equal event time resolve by id everywhere instead of by
        * which micro-batch delivered them (batch boundaries are an
        * accident of delivery, not of the data). Equal (watermark,
        * tiebreak) still resolves incoming-wins: redelivery updates.
        */
      tiebreak: Seq[String] = Nil) extends IncrementalStrategy
  /** Replace exactly the partitions present in the incoming batch
    * (dbt `insert_overwrite`); maps to Spark dynamic partition
    * overwrite, which at cluster scale is a metadata-only swap per
    * partition — no read-modify-write of the full table.
    */
  final case class InsertOverwrite(partitionCols: Seq[String]) extends IncrementalStrategy
  /** dbt `microbatch` (event-time batching): the table is maintained
    * per event-time PERIOD. An incremental run recomputes only the
    * periods from `lookback` periods before the target's newest one
    * forward — late-arriving data inside the lookback window is
    * healed, anything older is left untouched — and each period is
    * replaced independently (one dynamic-partition-overwrite job per
    * period = dbt's per-batch retry unit). `periodCol` must hold the
    * month of the model's event-time column as a DATE (the month
    * granularity of dbt `batch_size`).
    */
  final case class Microbatch(periodCol: String, lookback: Int = 1)
      extends IncrementalStrategy
  /** dbt `delete+insert`: target rows whose key appears in the batch
    * are deleted, then EVERY incoming row is inserted. Unlike Merge
    * this preserves key multiplicity within the batch (a key may fan
    * out to several rows — e.g. an order re-delivered as its line
    * items), which is exactly why dbt offers both strategies.
    */
  final case class DeleteInsert(uniqueKey: Seq[String]) extends IncrementalStrategy
}

/** dbt `on_schema_change` policy for incremental runs. */
sealed trait OnSchemaChange
object OnSchemaChange {
  case object Ignore extends OnSchemaChange
  /** New source columns are added to the target; pre-existing rows
    * read NULL for them (dbt `append_new_columns`; reference:
    * DbtEducationalDataProject/dbt_project.yml:274).
    */
  case object AppendNewColumns extends OnSchemaChange
  /** Full sync to the incoming schema: new columns are added AND
    * columns the source no longer produces are dropped from the
    * target (dbt `sync_all_columns`). Surviving columns keep their
    * existing order; new ones append at the end.
    */
  case object SyncAllColumns extends OnSchemaChange
  case object Fail extends OnSchemaChange
}

/** Resolution context handed to a model's transform — the Spark-native
  * equivalent of dbt's `source()` / `ref()` / `this` / `is_incremental()`
  * Jinja context.
  */
trait ModelCtx {
  /** A raw source table (dbt `source()`). */
  def source(name: String): DataFrame
  /** Another model's materialized output (dbt `ref()`). */
  def ref(name: String): DataFrame
  /** The model's own existing target, when it exists (dbt `this`). */
  def thisTable: Option[DataFrame]
  /** True on an incremental run against an existing target. */
  def isIncremental: Boolean = thisTable.isDefined
}

/** A declarative model: name, upstream deps, materialization policy,
  * and a transform from resolved inputs to a DataFrame. The `body`
  * string stands in for the model's source text — its hash is the
  * manifest checksum used for `state:modified` detection, exactly how
  * dbt checksums model files.
  */
final case class Model(
    name: String,
    deps: Seq[String],
    materialization: Materialization,
    transform: ModelCtx => DataFrame,
    schema: String = "analytics",
    schemaSuffix: Option[String] = None,
    onSchemaChange: OnSchemaChange = OnSchemaChange.Ignore,
    body: String = "",
    contract: Option[Contract] = None,
    tags: Seq[String] = Nil,
    // dbt `config(pre_hook=…, post_hook=…)`: per-model lifecycle hooks
    // (grants after each table build, a fixture DDL the model reads).
    // The Runner fires them around THIS model's materialization; a
    // journaled run (Retry.run: `run`, `retry`) journals each one, so a
    // retry skips those that completed. Run-level on-run-start and
    // on-run-end stay on RunHooks.
    preHooks: Seq[Hook] = Nil,
    postHooks: Seq[Hook] = Nil) {
  /** Target schema name, dbt-style `<base>_<custom suffix>`. */
  def targetSchema: String = schemaSuffix.fold(schema)(s => s"${schema}_$s")
  def checksum: String =
    Checksum.md5(name + "|" + deps.mkString(",") + "|" + body)

  /** Checksum of the model's CONFIG (materialization, target schema,
    * schema-change policy, tags, contract presence) — dbt's
    * `state:modified` covers config edits too (switching a model from
    * view to incremental IS a modification even with an untouched
    * body), and `state:modified.configs` selects exactly these.
    * Materializations/OnSchemaChange are case objects/classes, so
    * toString is a stable structural rendering.
    */
  def configChecksum: String =
    Checksum.md5(materialization.toString + "|" + targetSchema + "|" +
      onSchemaChange.toString + "|" + tags.mkString(",") + "|" +
      contract.isDefined)
}

/** The one manifest-checksum function — models and run hooks journal
  * through the same digest, so the scheme can never drift between
  * the two artifact kinds.
  */
object Checksum {
  def md5(identity: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(identity.getBytes("UTF-8"))
    md.digest().map("%02x".format(_)).mkString
  }
}
