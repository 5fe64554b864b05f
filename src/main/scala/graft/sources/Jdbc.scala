package graft.sources

import java.sql.{Connection, DriverManager}
import java.util.Properties

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

import graft.core.Warehouse

/** External JDBC warehouse: the `spark.read.jdbc` source plus the
  * dialect-aware DDL the CI clone needs (schema-ensure, drop+CTAS) —
  * the Spark-native analogue of the reference copier speaking
  * postgresql/redshift/bigquery/trino through one database URI
  * (reference: src/dbt_incremental_ci/copier.py:22-36 dialect from
  * URI, copier.py:66-104 CREATE SCHEMA IF NOT EXISTS per dialect).
  *
  * Reads are DATA-PARALLEL when a partition column is supplied: the
  * bounds query runs once over JDBC (two longs reach the driver) and
  * Spark fans the scan out over `numPartitions` range predicates —
  * without it a JDBC read is a single connection no matter how many
  * executors wait behind it, the first thing that breaks pointing a
  * 100 TB cluster at a warehouse. DDL statements (schema-ensure,
  * in-database clone) run on one driver-side connection — they move
  * no rows; the in-database CTAS copies entirely inside the external
  * warehouse, which is exactly the reference's clone (data never
  * transits the orchestrator).
  */
final case class JdbcWarehouse(spark: SparkSession, url: String,
    props: Map[String, String] = Map.empty) {

  /** Dialect name parsed from the URI, as the reference does in
    * dry-run (copier.py:25-36) — never requires a live connection.
    */
  val dialect: String = {
    val u = url.toLowerCase
    if (u.startsWith("jdbc:postgresql")) "postgresql"
    else if (u.startsWith("jdbc:redshift")) "redshift"
    else if (u.startsWith("jdbc:derby")) "derby"
    else if (u.startsWith("jdbc:trino") || u.startsWith("jdbc:presto")) "trino"
    else if (u.startsWith("jdbc:h2")) "h2"
    else "unknown"
  }

  private def connProps: Properties = {
    val p = new Properties()
    props.foreach { case (k, v) => p.setProperty(k, v) }
    p
  }

  private def withConnection[A](f: Connection => A): A = {
    val c = DriverManager.getConnection(url, connProps)
    try f(c) finally c.close()
  }

  private def execute(c: Connection, sql: String): Unit = {
    val st = c.createStatement()
    try { st.execute(sql); () } finally st.close()
  }

  /** `CREATE SCHEMA` with the reference's per-dialect shape
    * (copier.py:77-95): IF NOT EXISTS where the dialect has it,
    * attempt-and-verify where it doesn't (trino/derby) — the swallow
    * covers ONLY already-exists; a permissions/lock/syntax failure
    * re-throws instead of surfacing later as a confusing "schema not
    * found" at the first write.
    */
  def ensureSchema(schema: String): Unit = withConnection { c =>
    dialect match {
      case "postgresql" | "redshift" | "h2" =>
        execute(c, s"CREATE SCHEMA IF NOT EXISTS $schema")
      case _ =>
        try execute(c, s"CREATE SCHEMA $schema")
        catch {
          case e: java.sql.SQLException =>
            if (!schemaExists(c, schema)) throw e
        }
    }
  }

  private def schemaExists(c: Connection, schema: String): Boolean = {
    val rs = c.getMetaData.getSchemas
    try {
      var found = false
      while (!found && rs.next())
        found = rs.getString("TABLE_SCHEM").equalsIgnoreCase(schema)
      found
    } finally rs.close()
  }

  /** Row count pushed to the database — one scalar over the wire. */
  def count(schema: String, table: String): Long = withConnection { c =>
    val st = c.createStatement()
    try {
      val rs = st.executeQuery(s"SELECT COUNT(*) FROM $schema.$table")
      rs.next()
      rs.getLong(1)
    } finally st.close()
  }

  /** Case-fold-tolerant existence check: unquoted identifiers fold
    * UP on derby/h2 but DOWN on postgresql, so the schema pattern is
    * tried in stored-likely order and table names compare
    * case-insensitively.
    */
  def tableExists(schema: String, table: String): Boolean = withConnection { c =>
    Seq(schema, schema.toUpperCase, schema.toLowerCase).distinct.exists { s =>
      val rs = c.getMetaData.getTables(null, s, null, null)
      try {
        var found = false
        while (!found && rs.next())
          found = rs.getString("TABLE_NAME").equalsIgnoreCase(table)
        found
      } finally rs.close()
    }
  }

  /** Distributed read of `schema.table`. With `partitionColumn` the
    * bounds query runs in the database and the scan fans out over
    * `numPartitions` non-overlapping range predicates; without it
    * (small dims, DDL-adjacent reads) it is one connection.
    */
  def read(schema: String, table: String,
      partitionColumn: Option[String] = None,
      numPartitions: Int = 8): DataFrame = {
    val base = spark.read.format("jdbc")
      .option("url", url)
      .option("dbtable", s"$schema.$table")
      .options(props)
    partitionColumn.fold(base.load()) { pc =>
      // quoted: Spark's JDBC writer quotes column names on CREATE, so
      // the stored identifier is case-exact — an unquoted reference
      // would case-fold away from it on derby/postgres
      val q = "\"" + pc + "\""
      val (lo, hi) = withConnection { c =>
        val st = c.createStatement()
        try {
          val rs = st.executeQuery(
            s"SELECT MIN($q), MAX($q) FROM $schema.$table")
          rs.next()
          (rs.getLong(1), rs.getLong(2))
        } finally st.close()
      }
      if (lo == hi) base.load()
      else base
        .option("partitionColumn", pc)
        .option("lowerBound", lo)
        .option("upperBound", hi)
        .option("numPartitions", numPartitions)
        .load()
    }
  }

  /** Distributed write into `schema.table` (executors each open a
    * connection and batch-insert their partition).
    */
  def write(df: DataFrame, schema: String, table: String,
      mode: SaveMode = SaveMode.Overwrite): Unit = {
    ensureSchema(schema)
    df.write.mode(mode).format("jdbc")
      .option("url", url)
      .option("dbtable", s"$schema.$table")
      .options(props)
      .save()
  }

  /** The copy statements for one in-database table clone, per dialect
    * (reference: copier.py:106-157 `_build_copy_query`) — exposed so
    * dry-run can report exactly what would execute. Derby has no
    * populated CTAS, so its copy is CTAS WITH NO DATA + INSERT
    * SELECT; everywhere else it is the reference's DROP + CREATE
    * TABLE AS SELECT.
    */
  def copyStatements(sourceSchema: String, table: String,
      targetSchema: String): Seq[String] = {
    val src = s"$sourceSchema.$table"
    val tgt = s"$targetSchema.$table"
    dialect match {
      case "derby" => Seq(
        s"DROP TABLE $tgt", // no IF EXISTS in derby; failure swallowed
        s"CREATE TABLE $tgt AS SELECT * FROM $src WITH NO DATA",
        s"INSERT INTO $tgt SELECT * FROM $src")
      case _ => Seq(
        s"DROP TABLE IF EXISTS $tgt",
        s"CREATE TABLE $tgt AS SELECT * FROM $src")
    }
  }

  /** In-database clone: the rows move inside the external warehouse,
    * never through Spark — the reference's clone path.
    */
  def cloneTable(sourceSchema: String, table: String,
      targetSchema: String): Unit = withConnection { c =>
    copyStatements(sourceSchema, table, targetSchema).foreach { sql =>
      try execute(c, sql)
      catch {
        case e: java.sql.SQLException
            if sql.startsWith("DROP TABLE") && !sql.contains("IF EXISTS") =>
          () // derby: table did not exist
      }
    }
  }
}

/** Result of one JDBC clone step (mirrors ci.CopyResult / the
  * reference's per-table result dict, copier.py:219-233 — dry-run
  * results carry the statements that WOULD run, copier.py:180-196).
  */
final case class JdbcCopyResult(
    table: String,
    sourceSchema: String,
    targetSchema: String,
    dryRun: Boolean,
    status: String,
    statements: Seq[String])

/** CI clone against an external JDBC warehouse, with the reference's
  * schema-suffix semantics: a source schema that extends the
  * configured BASE schema keeps its custom suffix in the CI schema
  * (`edu_dbt_incremental_models` → `ci_test_incremental_models`,
  * reference: copier.py:38-64 `_compute_target_schema`).
  */
final case class JdbcCopier(jdbc: JdbcWarehouse, ciSchema: String,
    baseSchema: Option[String] = None) {

  def targetSchema(sourceSchema: String): String = baseSchema match {
    case Some(base) if sourceSchema.startsWith(base) =>
      ciSchema + sourceSchema.stripPrefix(base)
    case _ => ciSchema
  }

  /** Clone `tables` in-database into the suffix-mapped CI schema.
    * Dry-run reports the statements without opening a connection to
    * run them (the reference's dry-run never creates an engine,
    * copier.py:19-20).
    */
  def cloneAll(sourceSchema: String, tables: Seq[String],
      dryRun: Boolean = false): Seq[JdbcCopyResult] = {
    val tgt = targetSchema(sourceSchema)
    if (!dryRun) jdbc.ensureSchema(tgt)
    tables.map { t =>
      val stmts = jdbc.copyStatements(sourceSchema, t, tgt)
      if (dryRun) JdbcCopyResult(t, sourceSchema, tgt, dryRun = true, "would_copy", stmts)
      else Try(jdbc.cloneTable(sourceSchema, t, tgt)) match {
        case Success(_) => JdbcCopyResult(t, sourceSchema, tgt, dryRun = false, "copied", stmts)
        case Failure(e) =>
          JdbcCopyResult(t, sourceSchema, tgt, dryRun = false,
            s"error: ${Option(e.getMessage).getOrElse(e.getClass.getName).takeWhile(_ != '\n')}", stmts)
      }
    }
  }

  /** Land a JDBC table into the parquet lake warehouse (the path a
    * Spark CI run takes when prod state lives in an external
    * database but models materialize on the lake): partitioned JDBC
    * scan → distributed parquet write into the suffix-mapped CI
    * schema.
    */
  def landToParquet(wh: Warehouse, sourceSchema: String, table: String,
      partitionColumn: Option[String] = None,
      numPartitions: Int = 8): Long = {
    val tgt = targetSchema(sourceSchema)
    wh.write(jdbc.read(sourceSchema, table, partitionColumn, numPartitions),
      tgt, table)
    wh.rowCount(tgt, table)
  }
}
