package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** GDPR/CCPA ERASURE ("right to be forgotten") propagated through the
  * warehouse: a small table of subject keys must disappear from every
  * derived table — the delete-side twin of the reference's
  * incremental materializations, and at 100 TB the operation a
  * training-data warehouse runs weekly.
  *
  * Scale shape:
  *  - the request set is TINY (thousands of keys) against PB-scale
  *    facts, so every purge is a **broadcast anti-join rewrite** —
  *    the fact table never shuffles, each partition drops matching
  *    rows in place ([[purge]] wraps the key frame in `broadcast()`);
  *  - keyless AGGREGATES derived from keyed data can't be
  *    anti-joined; they REBUILD from the already-purged base
  *    (m34's view-maintenance discipline) — declared via
  *    [[Subject.rebuilds]];
  *  - the audit must prove completion WITHOUT retaining the erased
  *    identifiers: the journal stores per-table row accounting plus a
  *    one-way fingerprint of the sorted key set ([[Report.requestFp]])
  *    — verifiable, not reversible;
  *  - writes go through [[Warehouse.overwriteStaged]] (tmp + atomic
  *    rename), so a crash mid-erasure leaves every table either
  *    fully-purged or untouched, never half-deleted.
  */
object Erasure {

  /** Where a subject's key lives: keyed tables (schema, table,
    * keyCol) purge by anti-join; `rebuilds` are keyless derived
    * tables recomputed from purged state.
    */
  final case class Subject(
      keyed: Seq[(String, String, String)],
      rebuilds: Seq[(String, String, Warehouse => DataFrame)] = Nil)

  /** Per-table accounting the compliance audit needs. */
  final case class Report(table: String, rowsBefore: Long,
      rowsDeleted: Long, rowsAfter: Long)

  /** One-way fingerprint of the request key set (order-free): what
    * the journal may retain after the keys themselves must be gone.
    */
  def requestFp(keys: DataFrame): String = {
    val kc = keys.columns.head
    val r = keys.agg(
      sum(crc32(col(kc).cast("string"))).as("s"),
      count(lit(1)).as("n")).head()
    s"crc32sum:${r.getLong(0)}:n:${r.getLong(1)}"
  }

  /** Purge one keyed table: broadcast anti-join rewrite, atomic
    * overwrite. Returns the accounting row.
    */
  def purge(wh: Warehouse, schema: String, table: String, keyCol: String,
      keys: DataFrame): Report = {
    val kc = keys.columns.head
    val before = wh.read(schema, table)
    val nBefore = wh.rowCount(schema, table)
    val kept = before.join(
      broadcast(keys.select(col(kc).as(keyCol)).distinct()),
      Seq(keyCol), "left_anti")
    wh.overwriteStaged(kept, schema, table)
    val nAfter = wh.rowCount(schema, table)
    Report(s"$schema.$table", nBefore, nBefore - nAfter, nAfter)
  }

  /** Run the full erasure: purge every keyed table, then rebuild the
    * keyless derivatives from purged state (order matters — rebuilds
    * read what purges wrote). Journals the report + request
    * fingerprint into the warehouse as a compliance artifact.
    */
  def apply(wh: Warehouse, keys: DataFrame, subject: Subject,
      requestId: String): Seq[Report] = {
    val purged = subject.keyed.map { case (schema, table, keyCol) =>
      purge(wh, schema, table, keyCol, keys)
    }
    val rebuilt = subject.rebuilds.map { case (schema, table, build) =>
      val before = if (wh.exists(schema, table)) wh.rowCount(schema, table) else 0L
      wh.overwriteStaged(build(wh), schema, table)
      val after = wh.rowCount(schema, table)
      Report(s"$schema.$table", before, before - after, after)
    }
    val all = purged ++ rebuilt
    val fp = requestFp(keys)
    wh.saveArtifact(s"erasure_$requestId.json",
      "{\"request\":\"" + requestId + "\",\"keys_fp\":\"" + fp + "\"," +
        "\"tables\":[" + all.map(r =>
          "{\"table\":\"" + r.table + "\",\"before\":" + r.rowsBefore +
            ",\"deleted\":" + r.rowsDeleted + ",\"after\":" + r.rowsAfter + "}")
          .mkString(",") + "]}")
    all
  }
}
