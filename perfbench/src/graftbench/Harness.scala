package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.{CliConfig, Main, SparkEntry}
import graft.ci.{IncrementalCI, TableCopier}
import graft.cli.DemoProject
import graft.core.{Materialization, Materializer, ModelGraph, Phase, Runner, Warehouse}

/** One timed call into the program, and what the benchmark learned
  * about it outside the timed window.
  */
final case class OpRecord(name: String, secs: Double, fixtureSecs: Double = 0.0,
    out: String = "", error: String = "", checkFailed: Boolean = false,
    frozenBytes: Long = 0L, span: Int = -1, input: String = "")

/** One unit of work: a PR check or a pass over the corpus entries. */
final case class UnitRecord(kind: String, wall: Double, engine: Double,
    ops: Seq[OpRecord], traced: Boolean, spans: Seq[Int], extra: Map[String, Double])

/** Runs one workload in-process against the program's public entry
  * points and writes what it measured as JSON. Run through
  * `perfbench/run.py`, which builds the classpath, generates the
  * inputs and checks the written outputs.
  *
  *   graftbench.Harness <workload> <seed> <seconds> <trace 0|1> <input dir> <work dir> <result file>
  */
object Harness {

  val Cores = 4
  /** Demo DAG size for ci_pr: 2 * 8 + 5 = 21 models. */
  val Slices = 8

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, in, work, result) = args
    val h = new Harness(workload, seedS.toLong, secondsS.toDouble, traceS == "1", in, work)
    val json = h.run()
    Files.writeString(Paths.get(result), json)
    ()
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def dirBytes(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val files = Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      (files.map(Files.size).sum, files.size.toLong)
    }

  def jstr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def jnum(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString
}

final class Harness(workload: String, seed: Long, seconds: Double,
    trace: Boolean, in: String, work: String) {
  import Harness._

  private val rng = new Random(seed)
  private var spark: SparkSession = _
  private var tracer: Tracer = _
  private var heapPeak = 0L
  private val setupSecs = mutable.ArrayBuffer.empty[Double]
  private val units = mutable.ArrayBuffer.empty[UnitRecord]

  // -------------------------------------------------------------- session

  /** `graft.Main` builds its session with 32 shuffle partitions; the
    * registry entries are timed the way `graft.Bench` runs them, with
    * one shuffle partition per core.
    */
  private val shufflePartitions = if (workload == "ci_pr") 32 else Cores

  private def newSession(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName(s"graftbench-$workload")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The cleanup `graft.Bench` does between entries, outside timing. */
  private def cleanup(): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    try org.apache.spark.sql.graftbridge.StateStoreBridge.unloadAll()
    catch { case _: Throwable => () }
  }

  private def sampleHeap(): Unit = {
    System.gc()
    val rt = Runtime.getRuntime
    heapPeak = math.max(heapPeak, rt.totalMemory - rt.freeMemory)
  }

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  private def span[A](name: String, layer: String)(f: => A): A =
    if (tracer == null) f else tracer.span(name, layer)(f)

  private def log(msg: String): Unit = System.err.println(s"[graftbench] $msg")

  private def errText(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.getClass.getName).takeWhile(_ != '\n').take(300)

  // ------------------------------------------------------------ workloads

  private trait Load {
    def inputTables: Seq[String]
    /** How many times set-up runs; setup_s is their median. */
    val setupReps = 3
    /** Program set-up done before the loop, repeated setupReps times. */
    def prepare(rep: Int): Unit = ()
    /** An untimed unit that lets JIT and lazy set-up settle. */
    def warmUp(): Option[UnitRecord] = None
    /** Every run times at least this many units, so that runs on one
      * host end in the same JIT state and take a median of the same size.
      */
    val minUnits = 1
    def unit(i: Int): UnitRecord
  }

  /** Setup: a fresh session, one scan of every input, then the
    * workload's own preparation.
    */
  private def setup(load: Load): Unit =
    for (rep <- 0 until load.setupReps) {
      if (spark != null) spark.stop()
      val (_, s) = timed {
        spark = newSession()
        load.inputTables.foreach(t => spark.read.parquet(s"$in/$t.parquet").count())
        load.prepare(rep)
      }
      setupSecs += s
      log(f"setup $rep: $s%.2fs")
    }

  // ---------------------------------------------------------------- ci_pr

  private object CiPr extends Load {
    val inputTables = Seq("orders", "customer", "nation", "region")
    /** Prod holds orders before a seeded first-of-month in 2000, about
      * three quarters of the generated seven years.
      */
    val cutoff = f"2000-${1 + rng.nextInt(6)}%02d-01"
    private var wh = ""
    private def cfg(cmd: String, changed: Set[String] = Set.empty) = CliConfig(
      command = cmd, sfDir = in, warehouseRoot = wh, threads = Cores,
      slices = Slices, cutoff = Some(cutoff), changed = changed)

    override def prepare(rep: Int): Unit = {
      wh = s"$work/warehouse$rep"
      Main.run(spark, cfg("run"))
      ()
    }

    /** Each check is a PR that edits one staging slice (closure of
      * six models, one incremental clone); the seed picks the slices.
      */
    private val picks = rng.shuffle((0 until Slices).toList)
    /** A prod run costs 6-8 s warm; two keep a run near a minute. */
    override val setupReps = 2
    override val minUnits = 3
    /** `Main.ci` composed from the public calls it makes, each one in
      * its own span; run only when tracing.
      */
    private def tracedCi(c: CliConfig, modelSecs: mutable.ArrayBuffer[Double]): Main.CiReport = {
      val wh = Warehouse(spark, c.warehouseRoot)
      val manifest = span("core.manifest_fetch", "core") {
        Main.manifestSource(wh, c).fetch() }.get
      val base = manifest.baseSchema.getOrElse(c.schema)
      val graph = DemoProject.graph(c.slices, changed = c.changed, schema = base, vars = c.vars)
      val sel = span("ci.select", "ci") { IncrementalCI.select(graph, manifest) }
      val copies = span("ci.copy", "ci") {
        TableCopier(wh, c.threads).copyAll(base, sel.cloneTargets, c.suffix) }
      val ciGraph = ModelGraph(graph.models.map(m =>
        if (sel.closure.contains(m.name)) m.copy(schemaSuffix = Some(c.suffix)) else m))
      val order = ciGraph.topoOrder.filter(sel.closure.contains)
      val resolve = Main.deferResolve(graph, wh, Main.sources(spark, c))
      val outs = span("core.build", "core") {
        Runner(Materializer(Warehouse(spark, c.warehouseRoot)), resolve, c.fullRefresh,
          threads = c.threads,
          onModelDone = (_, s) => modelSecs.synchronized { modelSecs += s; () })
          .runSelected(ciGraph, order)
      }
      val counts = span("core.count", "core") {
        order.collect {
          case n if ciGraph.byName(n).materialization != Materialization.View =>
            n -> outs(n).count()
        }.toMap
      }
      Main.CiReport(sel, copies, order, counts, s"${base}_${c.suffix}")
    }

    /** Every CI-built table equals its prod table (the edits are
      * comment-only) and every clone has the prod row count. Each
      * table's rows are compared as a multiset fingerprint (row count
      * and the sum of a hash of every row), one Spark job for all.
      */
    private def checkCi(r: Main.CiReport): Boolean = {
      val w = Warehouse(spark, wh)
      val base = r.ciSchema.stripSuffix("_ci")
      val tables = (r.ciCounts.keys ++ r.copies.map(_.table)).toSeq.distinct
      def rows(schema: String, t: String): DataFrame = {
        val df = w.read(schema, t)
        df.select(lit(t).as("t"), lit(schema).as("side"),
          xxhash64(df.columns.sorted.toIndexedSeq.map(col): _*).cast(DecimalType(38, 0)).as("h"))
      }
      val fp = tables.flatMap(t => Seq(rows(base, t), rows(r.ciSchema, t)))
        .reduce(_ unionByName _)
        .groupBy("t", "side").agg(count(lit(1)).as("n"), sum("h").as("h"))
        .collect().map(x => (x.getString(0), x.getString(1)) -> ((x.getLong(2), x.get(3)))).toMap
      def prod(t: String) = fp.get((t, base))
      val clonesOk = r.copies.forall(c =>
        c.status == "copied" && prod(c.table).exists(_._1 == c.rows))
      val tablesOk = r.ciCounts.keys.forall(t =>
        prod(t).isDefined && prod(t) == fp.get((t, r.ciSchema)))
      clonesOk && tablesOk && r.ciCounts.nonEmpty
    }

    def unit(i: Int): UnitRecord = {
      val kind = s"stg_orders_${picks(Math.floorMod(i, Slices))}"
      val traced = tracer != null && tracer.enabled
      val modelSecs = mutable.ArrayBuffer.empty[Double]
      // the check's two timed calls are separate root spans, so that the
      // verification between them stays out of the trace
      val roots = mutable.ArrayBuffer.empty[Int]
      def root[A](name: String)(f: => A): A = {
        if (traced) roots += tracer.spans.size
        val a = span(name, "bench")(f)
        if (traced) tracer.settle()
        a
      }
      val (rep, ciSecs) = timed(root(s"ci:$kind") {
        try Right(
          if (traced) tracedCi(cfg("ci", Set(kind)), modelSecs)
          else Main.ci(spark, cfg("ci", Set(kind))))
        catch { case e: Throwable => Left(errText(e)) }
      })
      // outside the timed window: outputs and the CI schema's size
      val ok = rep.fold(_ => false, checkCi)
      if (traced) tracer.settle()
      val (bytes, files) = dirBytes(Paths.get(wh, "analytics_ci"))
      var extra = Map("ci_bytes" -> bytes.toDouble, "ci_files" -> files.toDouble,
        "warehouse_bytes" -> dirBytes(Paths.get(wh))._1.toDouble,
        "model_s_sum" -> modelSecs.sum)
      rep.foreach { r =>
        extra ++= Map("closure_models" -> r.selection.closure.size.toDouble,
          "clone_tables" -> r.selection.cloneTargets.size.toDouble,
          "models_built" -> r.ciCounts.size.toDouble)
      }
      val (_, cleanSecs) = timed(root("core.clean") { Main.clean(spark, cfg("clean")) })
      val op = OpRecord("ci_check", ciSecs + cleanSecs,
        error = rep.left.toOption.getOrElse(""), checkFailed = !ok)
      UnitRecord(kind, ciSecs + cleanSecs, ciSecs, Seq(op), traced, roots.toSeq, extra)
    }
  }

  // ----------------------------------------------------------- llm_corpus

  /** One pass: the corpus arrives through the streaming ingest dedup
    * (e11), then the batch curation entries run over it. Each op writes
    * the entry's output as parquet, which run.py checks after the run.
    */
  private object LlmCorpus extends Load {
    val inputTables = Seq("documents", "embeddings")
    val entries = Seq("e11_stream_ingest_dedup", "d02_dedup_minhash",
      "d05_embedding_neardup")
    /** This set-up is only a session and two scans, so take more. */
    override val setupReps = 5
    private val registry = SparkEntry.queries

    /** Streaming fixtures are memoized per (application, input dir), so
      * every pass reads a fresh copy of the inputs and stages them cold,
      * as a first run does.
      */
    private def freshInputs(i: Int): String = {
      val d = Paths.get(work, s"in_pass$i")
      Files.createDirectories(d)
      inputTables.foreach(t =>
        Files.copy(Paths.get(in, s"$t.parquet"), d.resolve(s"$t.parquet")))
      d.toString
    }

    override def warmUp(): Option[UnitRecord] = Some(unit(-1))

    private def runEntry(e: String, i: Int, dir: String): OpRecord = {
      val out = s"$work/out/$e/u$i"
      val sid = if (tracer != null && tracer.enabled) tracer.spans.size else -1
      Phase.drain()
      val (err, s) = timed {
        span(s"op.$e", if (e.startsWith("e")) "stream" else "ops") {
          try { registry(e)(spark, dir).write.mode("overwrite").parquet(out); "" }
          catch { case t: Throwable => errText(t) }
        }
      }
      // outside the timed window: fixture seconds, frozen blocks, cleanup
      val fixture = Phase.drain().values.sum
      if (tracer != null) tracer.settle()
      val frozen = spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum
      cleanup()
      OpRecord(e, s, fixture, out, err, frozenBytes = frozen, span = sid, input = dir)
    }

    def unit(i: Int): UnitRecord = {
      val dir = freshInputs(i)
      val traced = tracer != null && tracer.enabled
      val root = if (traced) tracer.spans.size else -1
      val ops = span("pass", "bench")(entries.map(runEntry(_, i, dir)))
      val wall = ops.map(_.secs).sum
      val outBytes = ops.map(o => dirBytes(Paths.get(o.out))._1).sum
      UnitRecord("pass", wall, wall - ops.map(_.fixtureSecs).sum, ops, traced, Seq(root),
        Map("warehouse_bytes" -> outBytes.toDouble))
    }
  }

  // ------------------------------------------------------------ run loop

  private def load: Load = workload match {
    case "ci_pr" => CiPr
    case "llm_corpus" => LlmCorpus
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def run(): String = {
    log(s"jvm up ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime} ms")
    val l = load
    setup(l)
    l.warmUp().foreach(w => log(f"warm-up: ${w.wall}%.2fs"))
    sampleHeap()
    if (trace) { tracer = new Tracer(spark) }
    var i = 0
    // closed loop, one client, until the timed units add up to
    // `seconds` and at least minUnits ran. A traced run alternates
    // untraced and traced units and ends on an untraced one, so that
    // JIT warm-up over the run does not skew trace_overhead.
    def more: Boolean = units.map(_.wall).sum < seconds || i < l.minUnits ||
      (trace && (i < 3 || i % 2 == 0))
    while (more) {
      if (trace && i % 2 == 1) tracer.attach()
      units += l.unit(i)
      log(f"unit $i ${units.last.kind}: ${units.last.wall}%.2fs " +
        units.last.ops.map(o => f"${o.name}=${o.secs}%.2f").mkString(" "))
      if (trace && tracer.enabled) tracer.detach()
      sampleHeap()
      i += 1
    }
    if (trace) Files.writeString(Paths.get(work, "spans.json"), tracer.toJson)
    spark.stop()
    log("session stopped")
    report()
  }

  // -------------------------------------------------------------- report

  private def opJson(o: OpRecord): String =
    s"""{"name":${jstr(o.name)},"secs":${jnum(o.secs)},"out":${jstr(o.out)},""" +
      s""""input":${jstr(o.input)},"error":${jstr(o.error)},"check_failed":${o.checkFailed}}"""

  private def unitJson(u: UnitRecord): String =
    s"""{"wall":${jnum(u.wall)},"engine":${jnum(u.engine)},""" +
      s""""warehouse_bytes":${jnum(u.extra("warehouse_bytes"))},""" +
      s""""ops":[${u.ops.map(opJson).mkString(",")}]}"""

  /** Per-layer metrics: medians over the traced units. */
  private def layerMetrics(): Map[String, Double] = {
    val t = tracer
    val traced = units.filter(_.traced)
    val plain = units.filterNot(_.traced)
    def med(f: UnitRecord => Double): Double = median(traced.map(f).toSeq)
    def roots(u: UnitRecord): Seq[Span] = u.spans.map(t.spans(_))
    def wallOf(u: UnitRecord): Double = roots(u).map(t.secs).sum
    def workOf(u: UnitRecord): Work = {
      val w = new Work; u.spans.foreach(r => w.add(t.workUnder(r))); w
    }
    def stat(u: UnitRecord)(f: OpStats => Double): Double = u.spans.map(r => f(t.statsOf(r))).sum
    def named(u: UnitRecord, n: String): Seq[Span] =
      t.spans.filter(s => u.spans.contains(s.op) && s.name == n).toSeq
    def spanSecs(u: UnitRecord, n: String): Double = named(u, n).map(t.secs).sum
    def spanWork(u: UnitRecord, n: String): Work = {
      val w = new Work; named(u, n).foreach(s => w.add(t.workUnder(s.id))); w
    }
    val m = mutable.LinkedHashMap.empty[String, Double]
    m("trace_overhead") = median(traced.map(_.wall).toSeq) / median(plain.map(_.wall).toSeq)
    m("spark.jobs") = med(workOf(_).jobs.toDouble)
    m("spark.stages") = med(workOf(_).stages.toDouble)
    m("spark.tasks") = med(workOf(_).tasks.toDouble)
    m("spark.failed_tasks") = med(workOf(_).failedTasks.toDouble)
    m("spark.no_job_s") = med(u => roots(u).map(r => t.noJobSecs(r, t.workUnder(r.id))).sum)
    m("spark.task_cpu_s") = med(workOf(_).taskCpuNs / 1e9)
    m("spark.task_run_s") = med(workOf(_).taskRunMs / 1e3)
    m("spark.utilization") = med(u => workOf(u).taskCpuNs / 1e9 / (wallOf(u) * Cores))
    m("spark.gc_s") = med(workOf(_).gcMs / 1e3)
    m("spark.shuffle_write_bytes") = med(workOf(_).shuffleWrite.toDouble)
    m("spark.shuffle_read_bytes") = med(workOf(_).shuffleRead.toDouble)
    m("spark.spill_bytes") = med(workOf(_).spill.toDouble)
    m("spark.input_bytes") = med(workOf(_).input.toDouble)
    m("spark.output_bytes") = med(workOf(_).output.toDouble)
    m("spark.planning_ms") = med(stat(_)(_.planningMs))
    m("ci.copy_s") = med(spanSecs(_, "ci.copy"))
    m("ci.copy_jobs") = med(spanWork(_, "ci.copy").jobs.toDouble)
    m("ci.copy_bytes") = med(spanWork(_, "ci.copy").output.toDouble)
    m("ci.select_ms") = med(spanSecs(_, "ci.select") * 1e3)
    m("ci.closure_models") = med(_.extra.getOrElse("closure_models", 0.0))
    m("ci.clone_tables") = med(_.extra.getOrElse("clone_tables", 0.0))
    val buildS = (u: UnitRecord) => spanSecs(u, "core.build")
    m("core.build_s") = med(buildS)
    m("core.model_s_sum") = med(_.extra.getOrElse("model_s_sum", 0.0))
    m("core.runner_parallelism") = med { u =>
      val b = buildS(u); if (b > 0) u.extra.getOrElse("model_s_sum", 0.0) / b else 0.0 }
    m("core.jobs_per_model") = med { u =>
      val j = spanWork(u, "core.build").jobs
      if (j > 0) u.extra.getOrElse("models_built", 0.0) / j else 0.0 }
    m("core.bytes_written") = med(_.extra.getOrElse("ci_bytes", 0.0))
    m("core.files_written") = med(_.extra.getOrElse("ci_files", 0.0))
    m("core.manifest_fetch_ms") = med(spanSecs(_, "core.manifest_fetch") * 1e3)
    m("core.models_built") = med(_.extra.getOrElse("models_built", 0.0))
    m("core.count_s") = med(spanSecs(_, "core.count"))
    m("stream.fixture_s") = med(_.ops.map(_.fixtureSecs).sum)
    m("stream.microbatches") = med(stat(_)(_.microbatches.toDouble))
    m("stream.batch_ms_sum") = med(stat(_)(_.batchMs.toDouble))
    m("stream.query_s") = med(stat(_)(_.queryS))
    for (layer <- Seq("bench", "ci", "core", "ops", "stream"))
      m(s"self.${layer}_s") = med(u => roots(u).map(t.selfByLayer(_).getOrElse(layer, 0.0)).sum)
    // per entry of every workload
    val entryOps = traced.flatMap(_.ops.filter(_.span >= 0))
    for (n <- entryOps.map(_.name).distinct) {
      val ops = entryOps.filter(_.name == n)
      m(s"op.$n.s") = median(ops.map(_.secs).toSeq)
      m(s"op.$n.jobs") = median(ops.map(o => t.workUnder(o.span).jobs.toDouble).toSeq)
      m(s"op.$n.task_cpu_s") = median(ops.map(o => t.workUnder(o.span).taskCpuNs / 1e9).toSeq)
      m(s"op.$n.frozen_bytes") = median(ops.map(_.frozenBytes.toDouble).toSeq)
    }
    m.toMap
  }

  private def report(): String = {
    val layers = if (trace) layerMetrics() else Map.empty[String, Double]
    val oracles = load match {
      case LlmCorpus => SparkEntry.oracleSql.filter { case (k, _) => LlmCorpus.entries.contains(k) }
      case _ => Map.empty[String, String]
    }
    s"""{"workload":${jstr(workload)},"seed":$seed,""" +
      s""""setup_s":[${setupSecs.map(jnum).mkString(",")}],""" +
      s""""heap_peak_bytes":$heapPeak,""" +
      s""""oracles":{${oracles.map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }.mkString(",")}},""" +
      s""""units":[${units.map(unitJson).mkString(",\n")}],""" +
      s""""layers":{${layers.toSeq.sortBy(_._1).map { case (k, v) => s"${jstr(k)}:${jnum(v)}" }.mkString(",")}}}"""
  }
}
