package perfbench

import java.io.{File, PrintWriter}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary. `parent` is 0 for a root; spans
  * recorded by listeners get their parent when the run is summarised.
  */
final case class Span(id: Long, parent: Long, name: String, layer: String,
    startNs: Long, endNs: Long, attrs: Map[String, Any]) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder. While `on` is false, `span` only runs its body. */
final class Tracer {
  @volatile var on: Boolean = false
  val spans = mutable.ArrayBuffer[Span]()
  private val ids = new AtomicLong(1)
  private val stack = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }
  // listener events carry wall-clock milliseconds; spans use nanoTime
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def msToNs(ms: Long): Long = ms * 1000000L - epochOffsetNs

  def span[T](name: String, layer: String, attrs: Map[String, Any] = Map.empty)(body: => T): T =
    if (!on) body
    else {
      val id = ids.getAndIncrement()
      val parent = stack.get.headOption.getOrElse(0L)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        stack.set(stack.get.tail)
        add(Span(id, parent, name, layer, t0, System.nanoTime(), attrs))
      }
    }

  def record(name: String, layer: String, startNs: Long, endNs: Long, attrs: Map[String, Any]): Unit =
    if (on) add(Span(ids.getAndIncrement(), 0L, name, layer, startNs, endNs, attrs))

  private def add(s: Span): Unit = spans.synchronized(spans += s)

  /** Spans as JSON lines, one object per span. */
  def write(f: File): Unit = {
    val w = new PrintWriter(f, "UTF-8")
    try spans.synchronized(spans.sortBy(_.startNs).foreach { s =>
      w.println(Json.value(mutable.LinkedHashMap[String, Any]("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "layer" -> s.layer, "start_ns" -> s.startNs, "end_ns" -> s.endNs) ++ s.attrs))
    }) finally w.close()
  }
}

/** Plan statistics of one executed query, from the QueryExecutionListener. */
final case class PlanStats(nodes: Int, exprNodesMax: Int, graftExprNodes: Int, reusedExchanges: Int)

/** Per-stage execution counters, from the SparkListener. */
final case class StageStats(tasks: Int, runMs: Long, inputBytes: Long,
    shuffleReadBytes: Long, shuffleWriteBytes: Long, spillBytes: Long)

/** The three listeners of the traced run, registered by the benchmark only:
  * a SparkListener (jobs and stages, with the job tags the workloads set),
  * a QueryExecutionListener (Catalyst phases, plan shape) and a
  * StreamingQueryListener (micro-batch progress). They record while the
  * tracer is on; `attach`/`detach` switch them for the overhead comparison.
  */
final class Listeners(spark: SparkSession, tracer: Tracer) {
  val stages = mutable.ArrayBuffer[StageStats]()
  val plans = mutable.ArrayBuffer[PlanStats]()
  private val jobStarts = mutable.Map[Int, (Long, String)]()
  private var attached = false

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val tags = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags"))).getOrElse("")
      jobStarts(e.jobId) = (e.time, tags)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStarts.remove(e.jobId).foreach { case (t0, tags) =>
        tracer.record(s"job ${e.jobId}", "spark", tracer.msToNs(t0), tracer.msToNs(e.time),
          Map("tags" -> tags, "ok" -> (e.jobResult == JobSucceeded)))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val i = e.stageInfo
      val m = i.taskMetrics
      if (m != null) stages.synchronized(stages += StageStats(i.numTasks, m.executorRunTime, m.inputMetrics.bytesRead,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = observe(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = observe(qe)
  }

  private def observe(qe: QueryExecution): Unit = if (tracer.on) {
    val phases = qe.tracker.phases
    phases.foreach { case (phase, p) =>
      tracer.record(phase, "catalyst", tracer.msToNs(p.startTimeMs), tracer.msToNs(p.endTimeMs), Map.empty)
    }
    var nodes, exprMax, graftExprs = 0
    qe.optimizedPlan.foreach { p =>
      nodes += 1
      p.expressions.foreach { e =>
        var n = 0
        e.foreach { x =>
          n += 1
          if (x.getClass.getName.startsWith("graft.expressions")) graftExprs += 1
        }
        exprMax = math.max(exprMax, n)
      }
    }
    var reused = 0
    def walk(p: SparkPlan): Unit = {
      if (p.isInstanceOf[ReusedExchangeExec]) reused += 1
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case _ =>
      }
      p.children.foreach(walk)
      p.subqueries.foreach(walk)
    }
    walk(qe.executedPlan)
    plans.synchronized(plans += PlanStats(nodes, exprMax, graftExprs, reused))
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val startMs = java.time.Instant.parse(p.timestamp).toEpochMilli
      val d = p.durationMs
      val total = Option(d.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      val attrs = mutable.Map[String, Any]("batch" -> p.batchId, "rows" -> p.numInputRows)
      d.forEach((k, v) => attrs("ms." + k) = v.longValue)
      Option(p.observedMetrics.get("order_metrics")).foreach { r =>
        r.schema.fieldNames.foreach(f => attrs("observed." + f) = r.getAs[Long](f))
      }
      tracer.record(s"trigger ${p.batchId}", "stream", tracer.msToNs(startMs),
        tracer.msToNs(startMs + total), attrs.toMap)
    }
  }

  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    attached = true
  }

  def detach(): Unit = if (attached) {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    attached = false
  }

  /** Wait until the listener bus has delivered every posted event. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
}

/** Turns the spans of a traced run into per-layer metrics. */
object Summary {
  /** Layers whose spans come from listeners rather than from the benchmark. */
  private val listenerLayers = Set("spark", "catalyst", "stream")

  /** Total length of the union of [start, end) intervals. */
  def unionNs(iv: Seq[(Long, Long)]): Long = {
    var total, curS, curE = 0L
    var open = false
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (!open || s > curE) {
        if (open) total += curE - curS
        curS = s; curE = e; open = true
      } else curE = math.max(curE, e)
    }
    if (open) total += curE - curS
    total
  }

  /** Self time per layer (span duration minus the part of its interval its
    * children cover), per traced unit. Listener spans and root benchmark
    * spans are parented to the innermost span that contains their start:
    * a micro-batch trigger contains its foreachBatch span, and a job or a
    * Catalyst phase hangs under the benchmark span that caused it.
    */
  def selfTimes(tracer: Tracer, units: Double): mutable.LinkedHashMap[String, Double] = {
    val spans = tracer.spans.synchronized(tracer.spans.toVector)
    val containers = spans.filter(s => !listenerLayers(s.layer) || s.layer == "stream")
    def innermost(s: Span): Long =
      containers.filter(c => c.id != s.id && c.startNs <= s.startNs && s.startNs < c.endNs &&
        (c.layer != "stream" || s.layer != "stream"))
        .sortBy(c => -c.startNs).headOption.map(_.id).getOrElse(0L)
    val parented = spans.map(s => if (s.parent == 0) s.copy(parent = innermost(s)) else s)
    val children = parented.groupBy(_.parent)
    val self = mutable.Map[String, Double]()
    parented.foreach { s =>
      val kids = children.getOrElse(s.id, Vector.empty)
        .map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs))).filter(x => x._1 < x._2)
      self(s.layer) = self.getOrElse(s.layer, 0.0) + (s.durNs - unionNs(kids)) / 1e6
    }
    // jobs can overlap (a broadcast runs beside the job that waits on it):
    // the layer's time is the union of its job intervals
    self("spark") = unionNs(spans.filter(_.layer == "spark").map(s => (s.startNs, s.endNs))) / 1e6
    val out = mutable.LinkedHashMap[String, Double]()
    Seq("bench", "operators", "catalyst", "exec_driver", "spark", "stream", "sink")
      .foreach(l => out(s"self.${l}_ms") = self.getOrElse(l, 0.0) / math.max(units, 1.0))
    out
  }
}
