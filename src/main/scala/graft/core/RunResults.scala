package graft.core

/** dbt's `run_results.json`: what one `run`, `retry` or `ci`
  * invocation did to each persisted model, saved as a warehouse
  * artifact beside the manifest. Each invocation replaces the previous
  * record.
  *
  * Statuses: `built` (the Runner wrote it), `reused` (CI copied prod's
  * table because its fingerprint matched), `cloned` (a CI clone target
  * copied before its incremental build, which is a second, `built`
  * record) and `error` (the model started and failed).
  */
object RunResults {

  /** One record: `fingerprint` is the model's fingerprint, or the
    * reason it has none or was not reused. `rows` is from the parquet
    * footers; None for an error.
    */
  final case class Result(model: String, status: String, seconds: Double,
      rows: Option[Long], fingerprint: Either[String, String])

  val artifactName = "run_results.json"

  /** What a Runner did to `models`: `built` when it finished, `error`
    * when it started and never finished. Models it never started are
    * left out.
    */
  def ran(models: Seq[String], started: String => Boolean, secs: Map[String, Double],
      rows: Map[String, Long], fingerprint: String => Either[String, String]): Seq[Result] =
    models.filter(started).map(n => Result(n, if (secs.contains(n)) "built" else "error",
      secs.getOrElse(n, 0.0), rows.get(n), fingerprint(n)))

  def toJson(command: String, elapsedSec: Double, results: Seq[Result]): String = {
    def str(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    def num(d: Double) = "%.3f".formatLocal(java.util.Locale.ROOT, d)
    val rs = results.map { r =>
      val fp = r.fingerprint.fold(why => s""""fingerprint":null,"reason":${str(why)}""",
        f => s""""fingerprint":${str(f)}""")
      s"""{"model":${str(r.model)},"status":${str(r.status)},""" +
        s""""seconds":${num(r.seconds)},"rows":${r.rows.fold("null")(_.toString)},$fp}"""
    }
    s"""{"command":${str(command)},"elapsed_s":${num(elapsedSec)},"results":[""" +
      rs.mkString(",") + "]}"
  }

  def save(wh: Warehouse, command: String, elapsedSec: Double,
      results: Seq[Result]): Unit =
    wh.saveArtifact(artifactName, toJson(command, elapsedSec, results))
}
