package graft.core

import scala.collection.mutable

/** The model DAG: topological ordering, cycle detection, and the
  * `state:modified+` downstream closure that drives CI selection
  * (reference: src/dbt_incremental_ci/dbt_helper.py:29-86).
  *
  * Pure driver-side graph logic over model *names* — node counts are
  * O(number of models), never O(data), so this is cluster-size
  * agnostic by construction.
  */
final case class ModelGraph(models: Seq[Model]) {
  val byName: Map[String, Model] = models.map(m => m.name -> m).toMap
  require(byName.size == models.size, "duplicate model names")

  /** name -> models that depend on it (reverse edges). */
  lazy val downstream: Map[String, Seq[String]] =
    models.flatMap(m => m.deps.filter(byName.contains).map(_ -> m.name))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }

  /** Kahn topological sort; throws on cycles. Deterministic order
    * (name tiebreak) so runs are reproducible.
    */
  def topoOrder: Seq[String] = {
    val indeg = mutable.Map(models.map(m =>
      m.name -> m.deps.count(byName.contains)): _*)
    val ready = mutable.PriorityQueue(
      indeg.collect { case (n, 0) => n }.toSeq: _*)(Ordering[String].reverse)
    val out = mutable.ArrayBuffer.empty[String]
    while (ready.nonEmpty) {
      val n = ready.dequeue()
      out += n
      for (d <- downstream.getOrElse(n, Nil)) {
        indeg(d) -= 1
        if (indeg(d) == 0) ready.enqueue(d)
      }
    }
    require(out.size == models.size,
      s"cycle among: ${indeg.collect { case (n, d) if d > 0 => n }.mkString(", ")}")
    out.toSeq
  }

  /** Directly-modified nodes plus everything downstream of them —
    * dbt's `state:modified+` selector
    * (reference: src/dbt_incremental_ci/dbt_helper.py:37-43).
    */
  def modifiedPlus(modified: Set[String]): Set[String] = {
    val seen = mutable.Set.empty[String]
    val stack = mutable.Stack(modified.toSeq.filter(byName.contains): _*)
    while (stack.nonEmpty) {
      val n = stack.pop()
      if (seen.add(n)) downstream.getOrElse(n, Nil).foreach(stack.push)
    }
    seen.toSet
  }
}

/** A production manifest: model name -> (checksum, deps). Diffing two
  * states yields the directly-modified set — checksum changed, node
  * added, or deps changed — the same signal dbt derives from
  * manifest.json checksums (reference:
  * src/dbt_incremental_ci/dbt_helper.py:18-27, 88-162).
  */
final case class ManifestState(entries: Map[String, (String, Seq[String])],
    schemas: Map[String, String] = Map.empty,
    configs: Map[String, String] = Map.empty,
    /** What the prod run that wrote this manifest recorded for each
      * persisted model it built ([[Fingerprint]]). A model without a
      * stamp always builds in CI, so a manifest without any (written
      * before stamps existed, or by `retry`) means "build everything".
      */
    stamps: Map[String, Fingerprint.Stamp] = Map.empty) {
  /** dbt `state:modified` (the default): body/deps OR config changed.
    * Pre-config manifests (empty `configs`) degrade to body-only —
    * a missing stored config can never read as "modified", so old
    * artifacts keep diffing exactly as they did.
    */
  def diff(current: ModelGraph): Set[String] =
    diffBody(current) ++ diffConfigs(current)

  /** dbt `state:modified.body`: checksum changed, node added, or deps
    * changed — the pre-config diff.
    */
  def diffBody(current: ModelGraph): Set[String] =
    current.models.collect {
      case m if !entries.get(m.name).exists { case (cs, deps) =>
        cs == m.checksum && deps == m.deps } => m.name
    }.toSet

  /** dbt `state:modified.configs`: a KNOWN node whose stored config
    * checksum no longer matches (new nodes belong to `.body`).
    */
  def diffConfigs(current: ModelGraph): Set[String] =
    current.models.collect {
      case m if configs.get(m.name).exists(_ != m.configChecksum) => m.name
    }.toSet

  /** The warehouse base schema this manifest's models materialize
    * into — dbt's target schema, inferred from the manifest exactly as
    * the reference infers it from manifest.json's node metadata
    * (reference: src/dbt_incremental_ci/core.py:98-132) instead of
    * asking the caller to re-state it. Most-frequent schema wins
    * (custom-schema models are the exception, not the base); name
    * tiebreak keeps it deterministic. None for pre-schema manifests.
    */
  def baseSchema: Option[String] =
    if (schemas.isEmpty) None
    else Some(schemas.values.groupBy(identity)
      .map { case (s, vs) => (s, vs.size) }
      .toSeq.sortBy { case (s, n) => (-n, s) }.head._1)

  def toJson: String = {
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    entries.toSeq.sortBy(_._1).map { case (n, (cs, deps)) =>
      val schemaField =
        schemas.get(n).fold("")(s => s""","schema":"${esc(s)}"""")
      val configField =
        configs.get(n).fold("")(c => s""","config":"${esc(c)}"""")
      val stampField = stamps.get(n).fold("")(st =>
        s""","fingerprint":"${st.fingerprint}","data_version":"${st.dataVersion}"""")
      s""""${esc(n)}":{"checksum":"${esc(cs)}","deps":[${deps.map(d => s""""${esc(d)}"""").mkString(",")}]$schemaField$configField$stampField}"""
    }.mkString("{", ",", "}")
  }
}

object ManifestState {
  def of(graph: ModelGraph): ManifestState =
    ManifestState(graph.models.map(m => m.name -> (m.checksum, m.deps)).toMap,
      graph.models.map(m => m.name -> m.schema).toMap,
      graph.models.map(m => m.name -> m.configChecksum).toMap)

  /** Where a production run leaves its manifest for later CI runs to
    * diff against — the warehouse-artifact analogue of the reference's
    * dbt-Cloud latest-successful-run manifest fetch (reference:
    * src/dbt_cloud.py:29-172 acquires it over HTTP; core.py:134-165
    * feeds it into run()). graft persists to the warehouse itself, so
    * any engine with warehouse access can diff without a dbt-Cloud
    * dependency; the HTTP acquisition path is out of scope (SURVEY §6).
    */
  val artifactName = "manifest.json"

  def save(wh: Warehouse, state: ManifestState): Unit =
    wh.saveArtifact(artifactName, state.toJson)

  def load(wh: Warehouse): Option[ManifestState] =
    wh.loadArtifact(artifactName).map(fromJson)

  /** Minimal parser for the manifest JSON written by `toJson` —
    * avoids any third-party JSON dependency. Fails hard when the
    * document contains entries the pattern did not match: a partially
    * parsed manifest would silently mis-diff (every dropped model
    * reads as "modified"), which is worse than aborting the CI run.
    */
  def fromJson(json: String): ManifestState = {
    // inverse of toJson's esc(): \" -> " and \\ -> \ (applied to model
    // and dep names so quoted/backslashed names round-trip instead of
    // reading as permanently-modified on every CI diff)
    def unesc(s: String) = s.replace("\\\"", "\"").replace("\\\\", "\\")
    // the schema, config and fingerprint fields are optional so
    // manifests persisted before them still load (no schema -> caller
    // default, no stamps -> CI builds everything)
    val entry = """"((?:[^"\\]|\\.)*)"\s*:\s*\{\s*"checksum"\s*:\s*"([0-9a-f]+)"\s*,\s*"deps"\s*:\s*\[([^\]]*)\](?:\s*,\s*"schema"\s*:\s*"((?:[^"\\]|\\.)*)")?(?:\s*,\s*"config"\s*:\s*"([0-9a-f]+)")?(?:\s*,\s*"fingerprint"\s*:\s*"([0-9a-f]+)"\s*,\s*"data_version"\s*:\s*"([0-9a-f]+)")?\s*\}""".r
    val dep = """"((?:[^"\\]|\\.)*)"""".r
    val matches = entry.findAllMatchIn(json).toSeq
    val parsed = matches.map { m =>
      val deps = dep.findAllMatchIn(m.group(3)).map(mm => unesc(mm.group(1))).toSeq
      unesc(m.group(1)) -> (m.group(2), deps)
    }.toMap
    val schemas = matches.collect {
      case m if m.group(4) != null => unesc(m.group(1)) -> unesc(m.group(4))
    }.toMap
    val configs = matches.collect {
      case m if m.group(5) != null => unesc(m.group(1)) -> m.group(5)
    }.toMap
    val stamps = matches.collect {
      case m if m.group(6) != null =>
        unesc(m.group(1)) -> Fingerprint.Stamp(m.group(6), m.group(7))
    }.toMap
    val expected = "\"checksum\"".r.findAllMatchIn(json).size
    require(parsed.size == expected,
      s"manifest parse mismatch: matched ${parsed.size} of $expected entries")
    ManifestState(parsed, schemas, configs, stamps)
  }
}
