package graft.core

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.UserDefinedExpression
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LocalRelation, LogicalPlan,
  ObjectConsumer, ObjectProducer, OneRowRelation, Range}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFooters

/** Early-cutoff fingerprints: what a persisted model's build would
  * write, hashed before it runs. Prod's `run` records one per model in
  * the manifest; a CI check that computes the same value for a `Table`
  * model can copy prod's table instead of rebuilding it (SQLMesh's
  * fingerprint reuse; "Build Systems à la Carte", ICFP 2018, calls it
  * early cutoff).
  *
  * A fingerprint is the SHA-256 of
  *  - the canonicalized optimized plan's string: exprIds normalized,
  *    comments and temp-view names gone. `semanticHash` is not stable
  *    across JVMs, the string is;
  *  - the output schema (canonicalization erases column names);
  *  - the model's config checksum, the Spark version and the
  *    session's time zone and ANSI mode;
  *  - every input relation's name, schema, read options and
  *    [[dataVersion]]. The plan string leaves the relation's path
  *    out, so input identity is hashed in explicitly.
  *
  * It fails closed: a model whose string could hide a change gets no
  * fingerprint (Left, with the reason) and always builds.
  */
object Fingerprint {

  /** What prod recorded for a model it built: the fingerprint, and the
    * data version of the table the build wrote.
    */
  final case class Stamp(fingerprint: String, dataVersion: String)

  /** Why a model can never have a fingerprint, whatever its plan:
    * views are not persisted, incremental models and snapshots read
    * an earlier version of their own table, and hooks have side
    * effects the plan does not show.
    */
  def refusal(model: Model): Option[String] = model.materialization match {
    case Materialization.Table =>
      if (model.preHooks.nonEmpty || model.postHooks.nonEmpty) Some("model has hooks")
      else None
    case Materialization.View => Some("view: not persisted")
    case _: Materialization.Incremental => Some("incremental: reads its own earlier table")
    case _: Materialization.Snapshot => Some("snapshot: reads its own earlier table")
  }

  /** The fingerprint of `df`, the planned output of `model`, or the
    * reason it has none. Planning only: the inputs are listed, no
    * footer is read and no job runs.
    */
  def of(model: Model, df: DataFrame): Either[String, String] = refusal(model) match {
    case Some(why) => Left(why)
    case None =>
      try planned(model, df)
      catch { case NonFatal(e) => Left(s"fingerprint failed: ${e.getMessage}") }
  }

  private def planned(model: Model, df: DataFrame): Either[String, String] = {
    val spark = df.sparkSession
    val plan = df.queryExecution.optimizedPlan
    opaque(plan).map(Left(_)).getOrElse {
      val inputs = plan.collectWithSubqueries { case l: LeafNode => l }.map {
        case r: LogicalRelation => r.relation match {
          case fs: HadoopFsRelation => Right(input(spark, fs))
          case other => Left(s"input ${other.getClass.getSimpleName} is not a file relation")
        }
        case r: LocalRelation if r.data.isEmpty => Right("empty")
        case _: OneRowRelation | _: Range => Right("")
        case other => Left(s"input ${other.nodeName} is not a file relation")
      }
      inputs.collectFirst { case Left(why) => why }.toLeft {
        val conf = spark.conf
        sha256(Seq(
          plan.canonicalized.treeString(verbose = true, maxFields = Int.MaxValue),
          df.schema.json, model.configChecksum, spark.version,
          conf.get("spark.sql.session.timeZone"), conf.get("spark.sql.ansi.enabled")) ++
          inputs.collect { case Right(v) => v })
      }
    }
  }

  /** A reason the plan's string does not pin its result: a
    * nondeterministic expression, a user-defined function (its string
    * leaves out its closure) or a typed lambda.
    */
  private def opaque(plan: LogicalPlan): Option[String] =
    plan.collectWithSubqueries { case p => p }.iterator.flatMap {
      case p @ (_: ObjectProducer | _: ObjectConsumer) => Some(s"typed lambda ${p.nodeName}")
      case p => p.expressions.iterator.flatMap(_.collectFirst {
        case u: UserDefinedExpression => s"user-defined function ${u.name}"
        case e if !e.deterministic && e.children.forall(_.deterministic) =>
          s"nondeterministic ${e.prettyName}"
      })
    }.nextOption()

  private def input(spark: SparkSession, fs: HadoopFsRelation): String = {
    val options = fs.options.filter { case (k, _) =>
      !Set("path", "paths")(k.toLowerCase) }.toSeq.sorted
    (fs.schema.json +: options.mkString(",") +:
      fs.location.rootPaths.map(r => r.getName + "=" + dataVersion(spark, r.toString)))
      .mkString("\n")
  }

  /** A table's data version: the hash of its sorted (path relative to
    * the table root, byte length) pairs from [[ParquetFooters.dataFiles]].
    * A listing, no footer read. The root itself is left out, so a
    * file-level copy has its source's data version.
    */
  def dataVersion(spark: SparkSession, path: String): String = {
    val root = new Path(path).toUri.getPath
    val files = ParquetFooters.dataFiles(spark.sparkContext.hadoopConfiguration, path)
      .map { f =>
        val p = f.getPath.toUri.getPath
        val rel = if (p == root) f.getPath.getName else p.stripPrefix(root + "/")
        s"$rel\t${f.getLen}"
      }.toSeq.sorted
    sha256(files)
  }

  private def sha256(parts: Seq[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    parts.foreach { p => md.update(p.getBytes(UTF_8)); md.update(0.toByte) }
    md.digest().map("%02x".format(_)).mkString
  }
}
