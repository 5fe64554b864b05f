package graft

/** The bench's probe table, checked without running a Spark job: which
  * rows a filtered run selects, and that the unfiltered plan reports
  * the committed board's keys in the board's order.
  */
class BenchSpec extends org.scalatest.funsuite.AnyFunSuite {

  private def rows(only: String*) = Bench.probesFor(Some(only.toSet))
  private def scaleKeys(plan: Seq[Bench.ProbeRow]) = plan.flatMap(_.scaleKey)

  test("a filtered run selects the rows whose own base it names") {
    assert(rows("mm05_audio_dedup").map(_.name) == Seq("mm05_audio_dedup_10x"))
    val oneM = Seq("d02_dedup_minhash_1m", "d14_exact_substr_scrub_fast_1m",
      "d18_increment_1mcorpus")
    val keys = scaleKeys(rows("d02_dedup_minhash", "d14_exact_substr_scrub_fast",
      "d18_incremental_lsh"))
    assert(oneM.forall(keys.contains), keys)
    assert(rows("q43_approx_topk").flatMap(_.sketchKey) ==
      Seq("q43_misra_gries_100x", "q43_exact_topk_100x"))
    assert(rows("no_such_entry").isEmpty)
    // every base the table names is a registry entry, so a filtered
    // run always holds the 1× median its rows report against
    assert(Bench.probesFor(None).map(_.base).toSet.subsetOf(SparkEntry.queries.keySet))
  }

  test("a probe row naming an unknown entry fails closed, naming it") {
    val e = intercept[IllegalArgumentException](Bench.ProbeRow("x",
      Bench.Corpus.Ten, "d02_dedup_minhsh", _ => Bench.Res(0.0, None)))
    assert(e.getMessage.contains("d02_dedup_minhsh"))
  }

  test("the unfiltered plan reports the r19 board's keys in order") {
    import scala.jdk.CollectionConverters._
    val parsed = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File("BENCH_r19.json")).get("parsed")
    def keys(block: String) = parsed.get(block).fieldNames().asScala.toSeq
    val plan = Bench.probesFor(None)
    assert(keys("scale10x").size == 94)
    assert(scaleKeys(plan) == keys("scale10x"))
    // r19 skipped the d02 decade on budget, and omitted its rows
    assert(plan.flatMap(_.sketchKey) == keys("sketch_probe") ++
      Seq("1x", "10x", "100x", "200x").map(t => s"d02_decade_$t"))
  }

  test("only the board's own configuration overwrites the tracked board") {
    val out = "/tmp/graft_bench.json"
    assert(Bench.outFiles(Map.empty) == Seq(out, Bench.boardFile))
    assert(Bench.outFiles(Map("SPARK_GRAFT_SF_DIR" -> Bench.sfDirOf(Map.empty),
      "SPARK_GRAFT_BENCH_OUT" -> "b.json")) == Seq("b.json", Bench.boardFile))
    for (kv <- Seq("SPARK_GRAFT_BENCH_ONLY" -> "d02_dedup_minhash",
        "SPARK_GRAFT_SF_DIR" -> "testdata/sf0.01", "SPARK_GRAFT_SCALE10X" -> "0"))
      assert(Bench.outFiles(Map(kv, "SPARK_GRAFT_BENCH_OUT" -> "b.json")) == Seq("b.json"), kv)
  }
}
