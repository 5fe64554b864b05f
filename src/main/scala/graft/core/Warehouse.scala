package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFooters

/** A parquet "warehouse": `root/<schema>/<table>` directories play the
  * role of the reference's Postgres schemas/tables
  * (reference: DbtEducationalDataProject/models/staging/sources.yml —
  * the `raw_edu` schema). At cluster scale the root would be an
  * object-store prefix; nothing here assumes a local filesystem —
  * all IO goes through Spark's Hadoop FS layer.
  *
  * Table metadata comes from parquet footers on the driver: [[read]]
  * takes its schema from one footer, [[rowCount]] sums row-group
  * counts over every footer and [[footerMax]] reads row-group
  * statistics, so none of them launches a Spark job.
  *
  * Building one installs graft's `file:` filesystem on `spark`
  * ([[graft.io.ForkFreeLocalFs.install]]; idempotent), so a local
  * warehouse starts no `chmod` process per file or directory it
  * creates and no `readlink` process per streaming-checkpoint rename,
  * whoever built the session. Other schemes are untouched.
  */
final case class Warehouse(spark: SparkSession, root: String) {
  graft.io.ForkFreeLocalFs.install(spark)

  def path(schema: String, table: String): String = s"$root/$schema/$table"

  private def fs(p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Self-healing check for a crashed staged swap: if the live dir is
    * missing but the `.__old` backup from [[overwriteStaged]] exists,
    * the process died between the two renames — restore the backup.
    * Runs on every exists/read/swap entry so ANY access path heals
    * (e.g. Snapshot.capture would otherwise see exists()==false and
    * silently re-seed, discarding all history). The extra FS probe
    * only happens when the target is already missing.
    */
  private def heal(schema: String, table: String): Boolean = {
    val target = new org.apache.hadoop.fs.Path(path(schema, table))
    val f = fs(target)
    if (f.exists(target)) true
    else {
      val old = new org.apache.hadoop.fs.Path(path(schema, table + ".__old"))
      f.exists(old) && f.rename(old, target)
    }
  }

  def exists(schema: String, table: String): Boolean = heal(schema, table)

  /** The table as a DataFrame: the relation `spark.read.parquet`
    * resolves, built from graft's own listing of the table's data
    * files and one parquet footer read on the driver (the file Spark's
    * own inference would pick), so the read launches no Spark job and
    * skips Spark's per-read source resolution ([[ParquetFooters.read]]).
    * Partition columns are discovered from the paths as before. A
    * table with no data file fails as `spark.read.parquet` does.
    */
  def read(schema: String, table: String): DataFrame = {
    heal(schema, table)
    ParquetFooters.read(spark, path(schema, table))
  }

  /** Rows in the table, summed from its parquet footers' row-group
    * counts on the driver: the value `read(schema, table).count()`
    * returns, without the job. 0 for a table with no data file.
    */
  def rowCount(schema: String, table: String): Long = {
    heal(schema, table)
    ParquetFooters.rowCount(spark, path(schema, table))
  }

  /** `max(column)` over the table from its footers' row-group
    * statistics, as `read(schema, table).agg(max(column)).head.get(0)`
    * returns it, or None where the statistics cannot tell
    * ([[ParquetFooters.max]]).
    */
  def footerMax(schema: String, table: String, column: String): Option[Any] = {
    heal(schema, table)
    ParquetFooters.max(spark, path(schema, table), column)
  }

  def write(df: DataFrame, schema: String, table: String,
      mode: String = "overwrite", partitionBy: Seq[String] = Nil,
      options: Map[String, String] = Map.empty): Unit = {
    val w = df.write.mode(mode).options(options)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(path(schema, table))
  }

  /** Copy-on-write overwrite of a table the plan is also READING: stage
    * the full result to `<table>.__tmp`, then swap directories. Parquet
    * cannot overwrite its own input; staging to a sibling path keeps the
    * write fully distributed and resilient (a lost executor just re-runs
    * its write task), unlike pinning the result in block-manager memory
    * via localCheckpoint. On a lakehouse table format this is exactly
    * MERGE INTO's copy-on-write commit.
    *
    * Commit order is crash-safe: the live table is renamed ASIDE
    * (`<table>.__old`) before the staged dir takes its place, so at no
    * point is there zero copies of the data — a failure between the two
    * renames leaves the previous version recoverable at `.__old`
    * (restored by [[heal]] on the next access), and a failure after
    * leaves the new version live.
    */
  def overwriteStaged(df: DataFrame, schema: String, table: String,
      partitionBy: Seq[String] = Nil): Unit =
    swapStaged(schema, table)(_ =>
      write(df, schema, table + ".__tmp", partitionBy = partitionBy))

  /** File-level clone of `fromSchema.table` into `toSchema.table`:
    * every data file [[ParquetFooters.dataFiles]] lists is copied
    * through the Hadoop FileSystem to the same table-relative path,
    * staged and swapped in as [[overwriteStaged]] does (so `clean`'s
    * sweep covers a crash). No Spark job runs, and the copy's footers
    * and partition layout are byte-identical to the source's.
    */
  def copyFiles(fromSchema: String, toSchema: String, table: String): Unit = {
    heal(fromSchema, table)
    val src = new org.apache.hadoop.fs.Path(path(fromSchema, table))
    val f = fs(src)
    val conf = spark.sparkContext.hadoopConfiguration
    swapStaged(toSchema, table) { staged =>
      f.mkdirs(staged)
      ParquetFooters.dataFiles(conf, src.toString).foreach { file =>
        org.apache.hadoop.fs.FileUtil.copy(f, file.getPath, f,
          new org.apache.hadoop.fs.Path(staged, relativize(f, src, file.getPath)),
          false, conf)
      }
    }
  }

  /** Stage a new version of `schema.table` at `<table>.__tmp` through
    * `stage`, then swap it in (the commit order [[overwriteStaged]]
    * documents).
    */
  private def swapStaged(schema: String, table: String)(
      stage: org.apache.hadoop.fs.Path => Unit): Unit = {
    // restore a half-swapped table FIRST — when the target is missing,
    // `.__old` is the only copy of the data, never a leftover to delete
    heal(schema, table)
    val target = new org.apache.hadoop.fs.Path(path(schema, table))
    val staged = new org.apache.hadoop.fs.Path(path(schema, table + ".__tmp"))
    val old = new org.apache.hadoop.fs.Path(path(schema, table + ".__old"))
    val f = fs(target)
    // clear leftovers from a previous crashed swap before staging anew
    // (post-heal, anything still at .__old is a stale backup of a
    // COMPLETED swap, safe to drop)
    if (f.exists(staged)) f.delete(staged, true)
    if (f.exists(old)) f.delete(old, true)
    stage(staged)
    val hadTarget = f.exists(target)
    if (hadTarget) require(f.rename(target, old),
      s"could not move $schema.$table aside for staged swap")
    require(f.rename(staged, target),
      s"staged swap failed for $schema.$table; previous data intact at $old, new data at $staged")
    if (hadTarget) { f.delete(old, true); () }
  }

  /** Partition-scoped copy-on-write: stage `df` (holding ONLY the
    * partitions to replace, already partitioned by `partCols`) to a
    * sibling dir, then swap exactly those partition directories into
    * the live table — untouched partitions are never read, staged, or
    * moved. The FS loop is O(#touched partitions) driver-side renames
    * (each a metadata op), the data path stays fully distributed.
    * On a lakehouse format this is MERGE INTO with partition pruning /
    * replaceWhere. Swap order per partition mirrors
    * [[overwriteStaged]]: live dir aside, staged dir in, backup
    * dropped — a crash mid-loop leaves each partition either old,
    * new, or recoverable at `.__old` (partition-level atomicity; the
    * table-format analogue commits all partitions in one metadata
    * swap).
    */
  def overwritePartitionsStaged(df: DataFrame, schema: String, table: String,
      partCols: Seq[String]): Unit = {
    require(partCols.nonEmpty, "partition-scoped overwrite needs partition columns")
    val f = fs(new org.apache.hadoop.fs.Path(path(schema, table)))
    // qualify both roots so relative paths computed against listStatus
    // results (which come back scheme-qualified, e.g. file:/...) are
    // true suffixes — an unqualified prefix would silently fail to
    // strip and the "relative" path would resolve back to the staged
    // dir itself
    val stagedRoot = f.makeQualified(
      new org.apache.hadoop.fs.Path(path(schema, table + ".__tmp")))
    val liveRoot = f.makeQualified(
      new org.apache.hadoop.fs.Path(path(schema, table)))
    if (f.exists(stagedRoot)) f.delete(stagedRoot, true)
    healPartitions(f, liveRoot)
    write(df, schema, table + ".__tmp", partitionBy = partCols)
    // every staged partition dir (part=val[/part2=val2...]) swaps in
    for (staged <- partitionDirs(f, stagedRoot, partCols.size)) {
      val rel = relativize(f, stagedRoot, staged)
      val live = new org.apache.hadoop.fs.Path(liveRoot, rel)
      val old = new org.apache.hadoop.fs.Path(
        live.getParent, hiddenOldName(live.getName))
      if (f.exists(old)) f.delete(old, true)
      f.mkdirs(live.getParent)
      val had = f.exists(live)
      if (had) require(f.rename(live, old),
        s"could not move partition $rel aside in $schema.$table")
      require(f.rename(staged, live),
        s"partition swap failed for $rel in $schema.$table")
      if (had) f.delete(old, true)
    }
    f.delete(stagedRoot, true)
    ()
  }

  /** Leaf partition dirs (`col=val[/col2=val2...]`) `depth` levels
    * under `root`. Hidden entries (leading dot — partition backups,
    * metadata) are skipped, matching Spark's own discovery rules.
    */
  private[graft] def partitionDirs(f: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, depth: Int): Seq[org.apache.hadoop.fs.Path] =
    if (depth == 0) Seq(root)
    else f.listStatus(root).filter(s => s.isDirectory &&
        s.getPath.getName.contains("=") && !s.getPath.getName.startsWith("."))
      .toSeq.flatMap(s => partitionDirs(f, s.getPath, depth - 1))

  /** `root`-relative subpath of `p`; fails loudly when `p` is not a
    * true suffix of `root` (the scheme-qualification trap above).
    */
  private[graft] def relativize(f: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, p: org.apache.hadoop.fs.Path): String = {
    val rel = f.makeQualified(p).toString
      .stripPrefix(f.makeQualified(root).toString + "/")
    require(!rel.contains(":"), s"could not relativize $p against $root")
    rel
  }

  /** Backup name for a partition dir mid-swap: the LEADING DOT keeps
    * it invisible to Spark partition discovery (a bare `yr=3.__old`
    * would be parsed as partition value "3.__old", silently widening
    * the column to string) and to [[partitionDirs]].
    */
  private[graft] def hiddenOldName(name: String): String =
    "." + name + ".__old"

  /** Restore half-swapped partition backups under `root`: a crash
    * between the two renames leaves `.X.__old` with no live `X` —
    * rename it back; a backup WITH a live copy is a completed swap's
    * leftover — drop it. Run by every partition-swapping writer on
    * entry (the table-level analogue is [[heal]]). Returns the
    * backups it DROPPED (root-relative) so sweeping callers can
    * report partition-level deletions alongside table-level ones.
    */
  private[graft] def healPartitions(f: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Seq[String] =
    partitionBackups(f, root, delete = true)

  /** Small driver-side artifacts (the CI manifest, run metadata)
    * persisted beside the data under `<root>/_artifacts/` — the same
    * Hadoop FS layer as the tables, so on a cluster they land on the
    * object store, not a local disk. Committed in the tables' order:
    * the content is written to `<name>.__tmp`, the live file moves
    * aside to `<name>.__old`, the temp file takes its place, and the
    * backup is dropped. A crash at any point leaves the old or the new
    * content: a backup with no live file is restored by [[loadArtifact]],
    * [[vacuum]] and the next save.
    */
  def saveArtifact(name: String, content: String): Unit = {
    val p = artifactPath(name)
    val tmp = artifactPath(name + ".__tmp")
    val old = artifactPath(name + ".__old")
    val f = fs(p)
    val had = healArtifact(f, p, old)
    // past the heal, a backup beside the live file is a completed
    // commit's leftover
    if (f.exists(old)) f.delete(old, false)
    val out = f.create(tmp, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
    if (had) require(f.rename(p, old), s"could not move artifact $name aside")
    require(f.rename(tmp, p),
      s"could not commit artifact $name; previous content intact at $old")
    if (had) { f.delete(old, false); () }
  }

  def loadArtifact(name: String): Option[String] = {
    val p = artifactPath(name)
    val f = fs(p)
    if (!healArtifact(f, p, artifactPath(name + ".__old"))) None
    else {
      val in = f.open(p)
      try {
        val bytes = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](8192)
        var n = in.read(buf)
        while (n >= 0) { bytes.write(buf, 0, n); n = in.read(buf) }
        Some(new String(bytes.toByteArray, "UTF-8"))
      } finally in.close()
    }
  }

  private def artifactPath(name: String) =
    new org.apache.hadoop.fs.Path(s"$root/_artifacts/$name")

  /** The artifact-level [[heal]]: true when the live file exists,
    * after restoring the `.__old` backup a crash between
    * [[saveArtifact]]'s two renames left as the only copy.
    */
  private def healArtifact(f: org.apache.hadoop.fs.FileSystem,
      live: org.apache.hadoop.fs.Path, old: org.apache.hadoop.fs.Path): Boolean =
    f.exists(live) || (f.exists(old) && f.rename(old, live))

  def drop(schema: String, table: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path(schema, table))
    val f = fs(p)
    if (f.exists(p)) { f.delete(p, true); () }
  }

  /** Live tables only — staging/backup dirs from an in-flight or
    * crashed staged swap (`.__tmp`/`.__ctmp`, `.__old`) and WAP audit
    * stages (`.__audit`) are never listed, so schema-wide consumers
    * (e.g. a CI clone of a prod schema) cannot pick up stale or
    * unaudited staging data.
    */
  def tables(schema: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(s"$root/$schema")
    val f = fs(p)
    if (!f.exists(p)) Nil
    else f.listStatus(p).filter(_.isDirectory).map(_.getPath.getName)
      .filterNot(n => n.endsWith(".__tmp") || n.endsWith(".__ctmp") ||
        n.endsWith(".__old") || n.endsWith(".__audit"))
      .toSeq.sorted
  }

  /** Schema directories under the root. Underscore/dot entries
    * (`_artifacts`, hidden debris) are metadata, not schemas.
    */
  def schemas: Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(root)
    val f = fs(p)
    if (!f.exists(p)) Nil
    else f.listStatus(p).filter(_.isDirectory).map(_.getPath.getName)
      .filterNot(n => n.startsWith("_") || n.startsWith("."))
      .toSeq.sorted
  }

  def dropSchema(schema: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$root/$schema")
    val f = fs(p)
    if (f.exists(p)) { f.delete(p, true); () }
  }

  /** Heal-then-sweep of staged-swap debris across the whole warehouse:
    * half-swaps are RESTORED first (a `.__old` with no live copy is
    * the only surviving data — exactly what [[heal]]/[[healPartitions]]
    * do on access), then what remains is deletable by construction —
    * abandoned `.__tmp`/`.__ctmp` staging dirs, completed-swap `.__old`
    * backups (table- and partition-level), and orphaned `_artifacts`
    * temp files. Returns root-relative paths removed.
    */
  def sweep(): Seq[String] =
    vacuum(dryRun = false).filter(_.action == "deleted").map(_.path)

  /** Non-destructive preview of what [[sweep]] would remove — the
    * `clean --dry-run` listing. Half-swapped backups (live copy
    * missing) are would-HEALS, not would-removes, and are excluded:
    * dry-run must not imply data would be deleted that sweep would in
    * fact restore. SAME traversal as [[sweep]] (one code path, a
    * delete flag) so the preview cannot drift from the deletion.
    */
  def debris(): Seq[String] =
    vacuum(dryRun = true).filter(_.action == "would_delete").map(_.path)

  /** The warehouse VACUUM (Delta VACUUM / Iceberg remove_orphan_files
    * analogue) — the typed form of [[sweep]]/[[debris]]'s traversal,
    * ONE code path for all three so the report can never drift from
    * the deletion. Classifies every piece of staged-swap residue:
    *  - `staged_tmp` — a `.__tmp`/`.__ctmp` stage that never
    *    committed: delete (its data was never live);
    *  - `stale_backup` — a `.__old` beside a live table: delete (the
    *    completed swap superseded it);
    *  - `interrupted_swap` — a `.__old` that is the ONLY copy: HEAL
    *    (rename to live), never delete;
    *  - `partition_backup` — partition-level `.X.__old` leftovers
    *    inside live tables (m14's partition-scoped swaps);
    *  - `artifact_tmp` — orphaned `_artifacts` temp files; an
    *    artifact's `.__old` backup is a `stale_backup` beside its live
    *    file and an `interrupted_swap` (healed) without one.
    * Cost is O(#directory entries) driver-side metadata ops — no data
    * IO at any warehouse size — so this runs as a routine janitor job.
    */
  def vacuum(dryRun: Boolean = false): Seq[Warehouse.VacuumAction] = {
    import Warehouse.VacuumAction
    val delete = !dryRun
    def did(base: String) = {
      val done = Map("delete" -> "deleted", "heal" -> "healed")(base)
      if (delete) done else s"would_$base"
    }
    val rootP = new org.apache.hadoop.fs.Path(root)
    val f = fs(rootP)
    val out = Seq.newBuilder[VacuumAction]
    // `.__audit` is a crashed WAP stage: never promoted (the publish
    // rename didn't happen), so it sweeps like any abandoned stage
    def isStaging(n: String) = n.endsWith(".__tmp") ||
      n.endsWith(".__ctmp") || n.endsWith(".__audit")
    def baseName(n: String) = n.stripSuffix(".__tmp")
      .stripSuffix(".__ctmp").stripSuffix(".__audit").stripSuffix(".__old")
    for (schema <- schemas) {
      val sp = new org.apache.hadoop.fs.Path(s"$root/$schema")
      f.listStatus(sp).filter(_.isDirectory).foreach { s =>
        val n = s.getPath.getName
        if (isStaging(n)) {
          if (delete) f.delete(s.getPath, true)
          out += VacuumAction(s"$schema/$n", schema, baseName(n),
            "staged_tmp", did("delete"))
        } else if (n.endsWith(".__old")) {
          val live = new org.apache.hadoop.fs.Path(sp, n.stripSuffix(".__old"))
          if (!f.exists(live)) {
            // half-swap: the backup is the only copy — heal, never
            // delete (sweep/debris exclude heals from their listings)
            if (delete) require(f.rename(s.getPath, live),
              s"could not restore table backup $schema/$n")
            out += VacuumAction(s"$schema/$n", schema, baseName(n),
              "interrupted_swap", did("heal"))
          } else {
            if (delete) { f.delete(s.getPath, true); () }
            out += VacuumAction(s"$schema/$n", schema, baseName(n),
              "stale_backup", did("delete"))
          }
        }
      }
      // partition-level dot backups inside each LIVE table; staging/
      // backup dirs are excluded — they are handled (deleted or
      // reported) whole above, so the preview count matches what
      // sweep actually does
      f.listStatus(sp)
        .filter(s => s.isDirectory && !isStaging(s.getPath.getName) &&
          !s.getPath.getName.endsWith(".__old"))
        .map(_.getPath).foreach { tp =>
          out ++= partitionBackups(f, tp, delete)
            .map(rel => VacuumAction(s"$schema/${tp.getName}/$rel", schema,
              tp.getName, "partition_backup", did("delete")))
        }
    }
    val art = new org.apache.hadoop.fs.Path(s"$root/_artifacts")
    if (f.exists(art)) {
      val files = f.listStatus(art).map(_.getPath)
      // backups first: one with no live file is the only copy of a
      // half-committed artifact, restored before its temp file goes
      files.filter(_.getName.endsWith(".__old")).foreach { p =>
        val n = p.getName
        val live = new org.apache.hadoop.fs.Path(art, n.stripSuffix(".__old"))
        if (!f.exists(live)) {
          if (delete) require(f.rename(p, live), s"could not restore artifact backup $n")
          out += VacuumAction(s"_artifacts/$n", "_artifacts", baseName(n),
            "interrupted_swap", did("heal"))
        } else {
          if (delete) { f.delete(p, false); () }
          out += VacuumAction(s"_artifacts/$n", "_artifacts", baseName(n),
            "stale_backup", did("delete"))
        }
      }
      files.filter(_.getName.endsWith(".__tmp")).foreach { p =>
        if (delete) { f.delete(p, false); () }
        out += VacuumAction(s"_artifacts/${p.getName}", "_artifacts",
          baseName(p.getName), "artifact_tmp", did("delete"))
      }
    }
    out.result()
  }

  /** Walk a table dir for partition-level `.X.__old` backups: heal
    * half-swaps (delete mode only — the backup is the only copy),
    * drop-or-report completed-swap leftovers. Returns the
    * dropped/would-drop backups, table-relative.
    */
  private def partitionBackups(f: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, delete: Boolean): Seq[String] = {
    val dropped = Seq.newBuilder[String]
    def walk(dir: org.apache.hadoop.fs.Path): Unit =
      f.listStatus(dir).filter(_.isDirectory).foreach { s =>
        val n = s.getPath.getName
        if (n.startsWith(".") && n.endsWith(".__old")) {
          val live = new org.apache.hadoop.fs.Path(dir,
            n.stripPrefix(".").stripSuffix(".__old"))
          if (!f.exists(live)) {
            if (delete) require(f.rename(s.getPath, live),
              s"could not restore partition backup ${s.getPath}")
          } else {
            if (delete) { f.delete(s.getPath, true); () }
            dropped += relativize(f, root, s.getPath)
          }
        } else if (!n.startsWith(".") && !n.startsWith("_")) walk(s.getPath)
      }
    if (f.exists(root)) walk(root)
    dropped.result()
  }
}

object Warehouse {
  /** Fresh scratch warehouse under the session [[Scratch]] root (unit
    * tests and the Verify-driven engine queries) — swept at JVM exit.
    */
  def scratch(spark: SparkSession, tag: String): Warehouse =
    Warehouse(spark, Scratch.dir(tag).toString)

  /** One [[Warehouse.vacuum]] finding: what was found, what was done. */
  final case class VacuumAction(path: String, schema: String, table: String,
      kind: String, action: String)
}
