package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{ListenerDrain, SparkContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans at the layer boundaries the benchmark calls into, with Spark jobs
  * as child spans. Everything stays in memory and is written once at exit.
  *
  * A disabled tracer only runs the body: end-to-end runs pay no listener,
  * no span bookkeeping and no listener-bus drain.
  *
  * Jobs find their parent span through a Spark local property that is set
  * on the calling thread for the duration of each span; Spark copies local
  * properties into every job it submits for that thread (broadcast and
  * subquery threads included). Times are seconds since the tracer started. */
final class Tracer(val enabled: Boolean) {
  import Tracer._

  private val originNs = System.nanoTime()
  private val originEpochMs = System.currentTimeMillis()
  private var nextId = 1L
  private val open = mutable.Stack[Span]()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageToJob = new ConcurrentHashMap[Int, Int]()
  private val plans = java.util.Collections.synchronizedList(new java.util.ArrayList[Planning]())
  private var sc: SparkContext = _

  def now(): Double = (System.nanoTime() - originNs) / 1e9
  private def fromEpochMs(ms: Long): Double = (ms - originEpochMs) / 1e3

  /** Register the listeners on a session (once per session; a no-op when
    * tracing is off). */
  def attach(spark: SparkSession): Unit = if (enabled) {
    sc = spark.sparkContext
    sc.addSparkListener(listener)
    spark.listenerManager.register(planListener)
  }

  /** Run `body` inside a span named `name`. */
  def span[T](name: String, attrs: (String, Any)*)(body: => T): T =
    if (!enabled) body
    else {
      val s = new Span(nextId, open.headOption.map(_.id).getOrElse(0L), name, now())
      nextId += 1
      s.attrs ++= attrs
      spans += s
      open.push(s)
      val prior = if (sc != null) sc.getLocalProperty(SpanProperty) else null
      if (sc != null) sc.setLocalProperty(SpanProperty, s.id.toString)
      try body
      finally {
        s.end = now()
        open.pop()
        if (sc != null) sc.setLocalProperty(SpanProperty, prior)
      }
    }

  /** Wait until the listeners have seen every event of the work so far. */
  def drain(): Unit = if (enabled && sc != null) ListenerDrain(sc)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val parent = Option(e.properties)
        .flatMap(p => Option(p.getProperty(SpanProperty))).map(_.toLong).getOrElse(0L)
      jobs.put(e.jobId, new Job(e.jobId, parent, fromEpochMs(e.time)))
      e.stageIds.foreach(st => stageToJob.put(st, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = fromEpochMs(e.time))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      job(e.stageInfo.stageId).foreach(j => j.synchronized(j.stages += 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for (j <- job(e.stageId); m <- Option(e.taskMetrics)) j.synchronized {
        j.tasks += 1
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
  }

  private def job(stageId: Int): Option[Job] =
    Option(stageToJob.get(stageId)).flatMap(id => Option(jobs.get(id)))

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases
      phases.get("analysis").foreach { a =>
        def ms(p: String) = phases.get(p).map(_.durationMs).getOrElse(0L)
        plans.add(Planning(fromEpochMs(a.startTimeMs),
          ms("analysis") / 1e3, ms("optimization") / 1e3, ms("planning") / 1e3))
      }
    }
  }

  /** Everything recorded, as one JSON document. Query plannings carry their
    * analysis start time; the reader attributes each to the span whose
    * interval holds it. */
  def toJson: String = Json(Json.obj(
    "spans" -> spans.map(_.toObj),
    "jobs" -> jobs.values.asScala.toSeq.sortBy(_.id).map(_.toObj),
    "plannings" -> plans.asScala.toSeq.sortBy(_.start).map(_.toObj)))
}

object Tracer {
  val SpanProperty = "perfbench.span"

  final class Span(val id: Long, val parent: Long, val name: String, val start: Double) {
    var end: Double = Double.NaN
    val attrs = mutable.LinkedHashMap.empty[String, Any]
    def toObj: Json.Obj = Json.obj(
      "id" -> id, "parent" -> parent, "name" -> name, "start" -> start, "end" -> end,
      "attrs" -> attrs)
  }

  final class Job(val id: Int, val parent: Long, val start: Double) {
    var end: Double = Double.NaN
    var stages = 0
    var tasks = 0
    var runMs = 0L
    var cpuNs = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
    def toObj: Json.Obj = Json.obj(
      "id" -> id, "parent" -> parent, "start" -> start, "end" -> end,
      "stages" -> stages, "tasks" -> tasks, "task_run_s" -> runMs / 1e3,
      "task_cpu_s" -> cpuNs / 1e9, "shuffle_write_bytes" -> shuffleWriteBytes,
      "spill_bytes" -> spillBytes)
  }

  final case class Planning(start: Double, analysis: Double, optimization: Double,
                            planning: Double) {
    def toObj: Json.Obj = Json.obj("start" -> start, "analysis_s" -> analysis,
      "optimization_s" -> optimization, "planning_s" -> planning)
  }
}
