package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}

import graft.core.Warehouse
import graft.operators.Dedup

/** Streaming ingest dedup: maintain a corpus as a DIGEST table and
  * admit each arriving micro-batch's novel documents only — the
  * `foreachBatch` body of the continuous form of d11.
  *
  * State is the (doc_id, content_hash) table itself, not stream
  * operator state: at 100 TB the digest set cannot live in a
  * streaming state store, but as a warehouse table it is exactly the
  * accumulated corpus the Bloom prefilter was built to avoid
  * shuffling — each step scans it once, filtered down to the
  * fpp-sized sliver that is grouped with the batch on digest
  * ([[Dedup.incrementalAgainstDigests]]), and appends only
  * survivors. First batch wins across batches (the admitted doc's
  * digest blocks later copies); keep-first-by-doc_id within a batch.
  */
object IngestDedup {

  /** One micro-batch step; returns the number of admitted docs.
    *
    * The append reads the table it writes without a freeze: the read
    * fixes its file listing when the plan is built, and the digest scan
    * runs in the shuffle's map stage, before the write commits. The
    * admitted count is the table's footer row count after the append
    * minus before it, so no job counts it.
    */
  def step(wh: Warehouse, schema: String, table: String,
      batch: DataFrame, digest: Column): Long = {
    val digests = wh.read(schema, table).select("content_hash")
    val surv = Dedup.incrementalAgainstDigests(batch, digests, digest)
      .select("doc_id", "content_hash")
    val before = wh.rowCount(schema, table)
    wh.write(surv, schema, table, mode = "append")
    wh.rowCount(schema, table) - before
  }
}
