package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graftbridge.FunctionBridge

import graft.plans.{DotProduct, KmvDistinct, MisraGries, NfcNormalize, WindowHashes}

/** Spark-extensions entry point: registers graft's native Catalyst
  * expressions as SQL FUNCTIONS, so SQL-TEXT surfaces (m30's SqlModel
  * authoring layer, `spark.sql`, a JDBC client) reach the same
  * codegen'd implementations the DataFrame operators use — without
  * this, SQL authors would fall back to interpreted higher-order
  * functions (dot products) or have no spelling at all (rolling
  * window hashes, the Misra-Gries summary).
  *
  * Wire up any of the three ways Spark supports:
  * {{{
  *   builder.withExtensions(new GraftExtensions)   // a session being built
  *   // cluster-wide, no code change:
  *   //   --conf spark.sql.extensions=graft.GraftExtensions
  *   GraftExtensions.install(spark)   // a session that already exists
  * }}}
  *
  * Registered: `dot_product(a, b)`, `nfc_normalize(s)`,
  * `window_hashes(tokens, w)`, and the aggregates
  * `misra_gries(item, capacity)` / `kmv_distinct(hash64, k)` (the
  * analyzer wraps a returned AggregateFunction exactly as it does
  * Spark's own sum/count builders).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach { case (id, fi, b) =>
      ext.injectFunction((id, fi, b))
    }
}

object GraftExtensions {

  /** Register on a LIVE session (the path for a session graft does
    * not build itself — a notebook, the driver's harness session).
    * Idempotent: re-registration just replaces the same builders.
    */
  def install(spark: SparkSession): Unit =
    functions.foreach { case (id, fi, b) =>
      FunctionBridge.register(spark, id, fi, b)
    }

  private def info(name: String, usage: String) =
    new ExpressionInfo("graft", null, name, usage, "", "", "", "", "", "", "built-in")

  private def intLit(e: Expression, what: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  private[graft] val functions: Seq[
      (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("dot_product"),
      info("dot_product", "dot_product(a, b) - primitive-loop dense dot product"),
      (args: Seq[Expression]) => {
        require(args.size == 2, "dot_product(a, b) takes 2 arguments")
        DotProduct(args(0), args(1))
      }),
    (FunctionIdentifier("nfc_normalize"),
      info("nfc_normalize", "nfc_normalize(s) - Unicode NFC normalization"),
      (args: Seq[Expression]) => {
        require(args.size == 1, "nfc_normalize(s) takes 1 argument")
        NfcNormalize(args(0))
      }),
    (FunctionIdentifier("window_hashes"),
      info("window_hashes",
        "window_hashes(tokens, w) - all w-token rolling window hashes"),
      (args: Seq[Expression]) => {
        require(args.size == 2, "window_hashes(tokens, w) takes 2 arguments")
        WindowHashes(args(0), intLit(args(1), "window width"))
      }),
    (FunctionIdentifier("misra_gries"),
      info("misra_gries",
        "misra_gries(item, capacity) - mergeable heavy-hitters summary"),
      (args: Seq[Expression]) => {
        require(args.size == 2, "misra_gries(item, capacity) takes 2 arguments")
        MisraGries(args(0), intLit(args(1), "capacity"))
      }),
    (FunctionIdentifier("kmv_distinct"),
      info("kmv_distinct",
        "kmv_distinct(hash64, k) - bottom-k mergeable distinct-count sketch"),
      (args: Seq[Expression]) => {
        require(args.size == 2, "kmv_distinct(hash64, k) takes 2 arguments")
        KmvDistinct(args(0), intLit(args(1), "k"))
      }))
}
