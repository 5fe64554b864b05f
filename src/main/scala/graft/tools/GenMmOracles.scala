package graft.tools

/** Regenerates queries/MmOracles.scala — the literal VALUES oracles
  * for the mm entries. The mm fixtures (Multimodal.stubMedia /
  * noiseMedia) are pure functions of their size parameter, so the
  * expected rows are CONSTANTS OF THE CODE: this tool runs each entry
  * once and freezes its output as the DuckDB oracle (the m06/m27/m28
  * driver-side-matrix recipe). Re-run after any change to the stub
  * decode, frame sampler, aHash, or fixture generators:
  *
  *   sbt "runMain graft.tools.GenMmOracles"
  */
object GenMmOracles {

  private def lit(v: Any): String = v match {
    case s: String => "'" + s.replace("'", "''") + "'"
    case other => other.toString
  }

  /** One VALUES relation with an outer type-pinning SELECT, so every
    * column compares against Spark's exact output type.
    */
  private def valuesSql(cols: Seq[(String, String)],
      rows: Seq[Seq[Any]], orderBy: Seq[String]): String = {
    val proj = cols.map { case (n, t) => s"CAST($n AS $t) AS $n" }
      .mkString(", ")
    val names = cols.map(_._1).mkString(", ")
    val body = rows.map(r => r.map(lit).mkString("(", ", ", ")"))
      .grouped(4).map(_.mkString(", ")).mkString(",\n  ")
    s"""SELECT $proj FROM (VALUES\n  $body\n) AS t($names)\nORDER BY ${orderBy.mkString(", ")}"""
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession()

    def rowsOf(q: graft.queries.Q): Seq[Seq[Any]] =
      q.run(spark, "/root/testdata/sf0.001").collect().toSeq
        .map(r => (0 until r.length).map(r.get))

    val mm01 = valuesSql(
      Seq("media_id" -> "BIGINT", "media_type" -> "VARCHAR",
        "n_bytes" -> "BIGINT", "checksum" -> "BIGINT",
        "width" -> "INTEGER", "height" -> "INTEGER",
        "n_frames" -> "INTEGER"),
      rowsOf(graft.queries.MmQueries.mm01), Seq("media_id"))
    val mm02 = valuesSql(
      Seq("media_id" -> "BIGINT", "frame_idx" -> "INTEGER",
        "frame_offset" -> "BIGINT", "frame_len" -> "INTEGER",
        "frame_checksum" -> "BIGINT"),
      rowsOf(graft.queries.MmQueries.mm02), Seq("media_id", "frame_idx"))
    val mm03 = valuesSql(
      Seq("id_a" -> "BIGINT", "id_b" -> "BIGINT", "hamming" -> "INTEGER"),
      rowsOf(graft.queries.MmQueries.mm03), Seq("id_a", "id_b"))
    val mm04 = valuesSql(
      Seq("media_id" -> "BIGINT", "frame_idx" -> "INTEGER",
        "n_samples" -> "INTEGER", "rms_sq" -> "BIGINT",
        "active" -> "BOOLEAN"),
      rowsOf(graft.queries.MmQueries.mm04), Seq("media_id", "frame_idx"))
    val mm05 = valuesSql(
      Seq("id_a" -> "BIGINT", "id_b" -> "BIGINT", "hamming" -> "INTEGER"),
      rowsOf(graft.queries.MmQueries.mm05), Seq("id_a", "id_b"))
    val mm06 = valuesSql(
      Seq("id_a" -> "BIGINT", "id_b" -> "BIGINT",
        "n_frames_matched" -> "INTEGER"),
      rowsOf(graft.queries.MmQueries.mm06), Seq("id_a", "id_b"))

    def tq(s: String) = "\"\"\"" + s + "\"\"\""
    val src =
      s"""package graft.queries
         |
         |// GENERATED by graft.tools.GenMmOracles — do not edit by hand.
         |// Literal VALUES oracles for the mm entries: their fixtures are
         |// pure functions of the code (stub decode over xorshift payloads,
         |// lossless-PNG aHash over planted noise images), so the expected
         |// rows are constants — independent of scale factor and testdata
         |// regeneration. Re-run the generator after changing any mm
         |// operator or fixture.
         |object MmOracles {
         |  val mm01: String = ${tq(mm01)}
         |
         |  val mm02: String = ${tq(mm02)}
         |
         |  val mm03: String = ${tq(mm03)}
         |
         |  val mm04: String = ${tq(mm04)}
         |
         |  val mm05: String = ${tq(mm05)}
         |
         |  val mm06: String = ${tq(mm06)}
         |}
         |""".stripMargin
    java.nio.file.Files.write(
      java.nio.file.Paths.get("src/main/scala/graft/queries/MmOracles.scala"),
      src.getBytes("UTF-8"))
    println(s"wrote MmOracles.scala (mm01=${mm01.length}c, " +
      s"mm02=${mm02.length}c, mm03=${mm03.length}c, mm04=${mm04.length}c, " +
      s"mm05=${mm05.length}c, mm06=${mm06.length}c)")
    spark.stop()
  }
}
