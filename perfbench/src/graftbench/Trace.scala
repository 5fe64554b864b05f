package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval around a call into a layer of the program. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    layer: String, start: Long, var end: Long = 0L)

/** Work a span's Spark jobs did, summed from listener events. */
final class Work {
  var jobs = 0L; var stages = 0L; var tasks = 0L; var failedTasks = 0L
  var taskCpuNs = 0L; var taskRunMs = 0L; var gcMs = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
  var input = 0L; var output = 0L
  /** (start ms, end ms) of every job, for the no-job wall. */
  val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  def add(o: Work): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    failedTasks += o.failedTasks; taskCpuNs += o.taskCpuNs
    taskRunMs += o.taskRunMs; gcMs += o.gcMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    spill += o.spill; input += o.input; output += o.output
    jobSpans ++= o.jobSpans
  }
}

/** Per-op engine counters that do not come with a job id. */
final class OpStats {
  var planningMs = 0.0
  var microbatches = 0L; var batchMs = 0L; var queryS = 0.0
}

/** In-memory tracer. Spans are opened only on the benchmark's main
  * thread, around the calls it makes into each layer; Spark work is
  * attributed to the innermost open span through the
  * `graftbench.span` local property, which the pools the program
  * builds per call inherit. Everything is written out at the end.
  */
final class Tracer(spark: SparkSession) {
  val PropSpan = "graftbench.span"
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  @volatile private var opId = -1
  private val work = new ConcurrentHashMap[Int, Work]()
  private val opStats = mutable.Map.empty[Int, OpStats]
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val jobStart = new ConcurrentHashMap[Int, (Int, Long)]()
  private val queryStart = new ConcurrentHashMap[java.util.UUID, Long]()
  @volatile var enabled = false

  private def workOf(span: Int): Work = work.computeIfAbsent(span, _ => new Work)
  private def stats: OpStats = opStats.getOrElseUpdate(opId, new OpStats)

  def span[A](name: String, layer: String)(f: => A): A =
    if (!enabled) f
    else {
      val parent = stack.headOption
      val s = Span(spans.size, parent.fold(-1)(_.id),
        if (parent.isEmpty) spans.size else opId, name, layer, System.nanoTime())
      if (parent.isEmpty) opId = s.id
      spans += s; stack = s :: stack
      val sc = spark.sparkContext
      sc.setLocalProperty(PropSpan, s.id.toString)
      try f
      finally {
        s.end = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(PropSpan, stack.headOption.map(_.id.toString).orNull)
      }
    }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val id = Option(e.properties).flatMap(p => Option(p.getProperty(PropSpan)))
        .map(_.toInt).getOrElse(-1)
      e.stageIds.foreach(stageSpan.put(_, id))
      jobStart.put(e.jobId, (id, e.time))
      workOf(id).synchronized { workOf(id).jobs += 1 }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (id, t0) =>
        val w = workOf(id); w.synchronized { w.jobSpans += ((t0, e.time)) }
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val w = workOf(stageSpan.getOrDefault(e.stageInfo.stageId, -1))
      w.synchronized { w.stages += 1 }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val w = workOf(stageSpan.getOrDefault(e.stageId, -1))
      val m = e.taskMetrics
      w.synchronized {
        w.tasks += 1
        if (e.taskInfo != null && !e.taskInfo.successful) w.failedTasks += 1
        if (m != null) {
          w.taskCpuNs += m.executorCpuTime; w.taskRunMs += m.executorRunTime
          w.gcMs += m.jvmGCTime
          w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          w.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          w.input += m.inputMetrics.bytesRead
          w.output += m.outputMetrics.bytesWritten
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = synchronized {
      stats.planningMs += qe.tracker.phases.values.map(_.durationMs).sum.toDouble
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
      queryStart.put(e.runId, System.nanoTime()); ()
    }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      synchronized {
        val p = e.progress
        val s = stats
        s.microbatches += 1
        s.batchMs += p.batchDuration
      }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      synchronized {
        Option(queryStart.remove(e.runId)).foreach { t0 =>
          stats.queryS += (System.nanoTime() - t0) / 1e9
        }
      }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    enabled = true
  }

  def detach(): Unit = {
    org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    enabled = false
  }

  /** Wait until every event of the work just run has been delivered;
    * outside a span, later events belong to no op.
    */
  def settle(): Unit = if (enabled) {
    org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
    if (stack.isEmpty) opId = -1
  }

  def children(id: Int): Seq[Span] = spans.filter(_.parent == id).toSeq

  /** Work of a span and every span under it. */
  def workUnder(id: Int): Work = {
    val w = new Work
    Option(work.get(id)).foreach(w.add)
    children(id).foreach(c => w.add(workUnder(c.id)))
    w
  }

  def secs(s: Span): Double = (s.end - s.start) / 1e9

  /** Wall of a span no Spark job was running in. */
  def noJobSecs(s: Span, w: Work): Double = {
    val wall = secs(s)
    val merged = w.jobSpans.sortBy(_._1).foldLeft(List.empty[(Long, Long)]) {
      case ((a, b) :: t, (c, d)) if c <= b => (a, math.max(b, d)) :: t
      case (acc, iv) => iv :: acc
    }
    math.max(0.0, wall - merged.map { case (a, b) => (b - a) / 1e3 }.sum)
  }

  /** Per-layer self time of the spans under `root`: each span's wall
    * minus the part its child spans cover.
    */
  def selfByLayer(root: Span): Map[String, Double] = {
    val acc = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    def go(s: Span): Unit = {
      val kids = children(s.id)
      acc(s.layer) += secs(s) - kids.map(secs).sum
      kids.foreach(go)
    }
    go(root)
    acc.toMap
  }

  def statsOf(op: Int): OpStats = opStats.getOrElse(op, new OpStats)

  def toJson: String = spans.map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""" +
      s""""layer":"${s.layer}","start_ns":${s.start},"end_ns":${s.end}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}
