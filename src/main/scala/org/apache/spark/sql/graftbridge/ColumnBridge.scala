package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ catalyst Expression bridge. Spark 4 gates these
  * conversions behind `private[sql]` (the Column API is backed by
  * ColumnNodes now); libraries that ship custom Catalyst expressions
  * conventionally expose them through a shim in an `o.a.s.sql`
  * subpackage. The other file outside the `graft` namespace is
  * `execution.datasources.parquet.ParquetFooters`, for the same reason.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}

/** Register a Catalyst function builder on a LIVE session's function
  * registry. `SparkSessionExtensions.injectFunction` only applies at
  * session BUILD time; a session that already exists (a notebook, a
  * harness-owned session) needs `sessionState.functionRegistry`,
  * which Spark gates `private[sql]` — same shim rationale as
  * [[ColumnBridge]].
  */
object FunctionBridge {
  def register(spark: org.apache.spark.sql.SparkSession,
      id: org.apache.spark.sql.catalyst.FunctionIdentifier,
      fi: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      b: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry.registerFunction(id, fi, b)
}

/** Unpersist the block-manager blocks behind an EAGER localCheckpoint.
  * Iterative operators (d20's prefix-doubling levels, PageRank's rank
  * frames) freeze per-level frames whose lifetime is ONE level — but
  * `Dataset.unpersist` only reaches CacheManager entries, and the
  * localCheckpoint blocks otherwise pin memory until session cleanup
  * (at 10× corpus scale the dead levels were most of the heap). The
  * checkpointed RDD hides behind a `private[sql]` LogicalRDD — same
  * shim rationale as [[ColumnBridge]]. Callers must only free frames
  * NO downstream plan will read again (the lineage is truncated; a
  * later read would fail, not recompute).
  */
object RddBridge {
  def unpersistCheckpoint(df: org.apache.spark.sql.DataFrame,
      blocking: Boolean = false): Unit =
    df.queryExecution.analyzed.foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking); ()
      case _ => ()
    }

  /** BlockManager bytes (memory + disk) behind an EAGER
    * localCheckpoint — a ZERO-JOB input for broadcast size gates:
    * the blocks already exist after the eager materialization, so
    * reading their sizes from the storage registry costs nothing,
    * where a `df.count()` over the same frame is one more Spark job
    * per query (measured r18: w05's gate count was most of its 1×
    * regression). None when the frame has no registered blocks (not
    * checkpointed, not yet materialized, or already unpersisted): the
    * size is UNKNOWN, and a gate must treat it as too big to
    * broadcast, never as 0 bytes.
    */
  def checkpointBytes(df: org.apache.spark.sql.DataFrame): Option[Long] = {
    val ids = df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
    }.toSet
    val infos = df.sparkSession.sparkContext.getRDDStorageInfo
      .filter(i => ids.contains(i.id))
    if (infos.isEmpty) None else Some(infos.map(i => i.memSize + i.diskSize).sum)
  }
}

/** Unload every loaded state-store provider and stop the maintenance
  * task. A terminated streaming query leaves its providers (and for
  * RocksDB, native handles + background maintenance) registered until
  * the lazy maintenance cycle notices — measured: queries running
  * AFTER the RocksDB-backed join entries in the same session paid
  * ~0.5-1s of stolen cycles (mm06 0.8 → 1.9s). The streaming entries
  * call this after their query terminates; the registry re-initializes
  * lazily on the next streaming query, so sequential queries are
  * unaffected. Same `private[sql]` shim rationale as [[ColumnBridge]].
  */
object StateStoreBridge {
  def unloadAll(): Unit =
    org.apache.spark.sql.execution.streaming.state.StateStore.stop()
}

/** Block until every event already posted to the session's listener
  * bus has reached its listeners. Listener delivery is asynchronous,
  * so a per-entry tally read right after an action can miss that
  * action's last events; `LiveListenerBus.waitUntilEmpty` is
  * `private[spark]` — same shim rationale as [[ColumnBridge]].
  */
object ListenerBridge {
  def drain(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
