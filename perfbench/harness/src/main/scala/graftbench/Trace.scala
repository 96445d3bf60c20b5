package graftbench

import java.io.{File, PrintWriter}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans and counters, recorded from outside the program: a span around
  * each call into a layer, a `SparkListener` for jobs, stages and tasks,
  * and a `QueryExecutionListener` for the planning phases of the queries
  * that actually ran. Untraced, every method only runs its block. */
final class Trace(spark: SparkSession, traced: Boolean) {
  import Trace._

  private val sc = spark.sparkContext
  @volatile var c = new Counters
  val saveMs = scala.collection.mutable.Map.empty[String, Double]
  var lastMs = 0.0

  private val spans = ArrayBuffer.empty[String]
  private var nextId = 0L
  private var stack: List[Long] = Nil
  private var on = false

  private val jobStart = scala.collection.mutable.Map.empty[Int, (Long, String)]
  private val stageJob = scala.collection.mutable.Map.empty[Int, Int]
  private val jobSeenTask = scala.collection.mutable.Set.empty[Int]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = c.synchronized {
      c.jobs += 1
      val parent = Option(e.properties).map(_.getProperty(SpanProp)).orNull
      jobStart(e.jobId) = (e.time, parent)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = c.synchronized {
      jobStart.remove(e.jobId).foreach { case (t, parent) =>
        spans += Json.obj("name" -> "spark.job", "id" -> s"job-${e.jobId}",
          "parent" -> Option(parent).map(_.split('|')(0)).orNull, "op" -> opOf(parent), "start_ms" -> t.toDouble,
          "end_ms" -> e.time.toDouble)
      }
      jobSeenTask -= e.jobId
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      c.synchronized { c.stages += 1 }
    override def onTaskStart(e: SparkListenerTaskStart): Unit = c.synchronized {
      stageJob.get(e.stageId).foreach { j =>
        if (!jobSeenTask(j)) {
          jobSeenTask += j
          jobStart.get(j).foreach { case (t, _) =>
            c.jobWaitMs += math.max(0L, e.taskInfo.launchTime - t)
          }
        }
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = c.synchronized {
      c.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        c.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
        c.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
        c.recordsIn += m.inputMetrics.recordsRead
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      phases(qe)
    private def phases(qe: QueryExecution): Unit = c.synchronized {
      c.analysisMs += phaseMs(qe, "analysis")
      c.optimizeMs += phaseMs(qe, "optimization")
      c.planningMs += phaseMs(qe, "planning")
    }
  }

  /** Count the analysis phase of a query that ran through a command the
    * listener reports instead (a noop write). */
  def addAnalysis(qe: QueryExecution): Unit =
    if (on) c.synchronized { c.analysisMs += phaseMs(qe, "analysis") }

  enabled(traced)

  def isOn: Boolean = on

  /** Attach or detach the listeners; spans are recorded only while on. */
  def enabled(b: Boolean): Unit = if (traced && b != on) {
    drain()
    on = b
    if (b) {
      sc.addSparkListener(listener)
      spark.listenerManager.register(planListener)
    } else {
      sc.removeSparkListener(listener)
      spark.listenerManager.unregister(planListener)
    }
  }

  def reset(): Unit = { c = new Counters; saveMs.clear() }

  /** Wait until every posted listener event has been delivered. */
  def drain(): Unit = if (traced) org.apache.spark.perfbench.Bus.drain(sc)

  def span(name: String, start: Double, end: Double, op: String): Unit =
    if (on) {
      nextId += 1
      spans += Json.obj("name" -> name, "id" -> s"s$nextId",
        "parent" -> stack.headOption.map(i => s"s$i").orNull, "op" -> op,
        "start_ms" -> start, "end_ms" -> end)
    }

  /** Run `block` as one span named `name` of operation `op`; jobs it
    * launches carry the span id as their parent. */
  def time[T](name: String, op: String)(block: => T): T =
    if (!on) block
    else {
      nextId += 1
      val id = nextId
      val parent = stack.headOption.map(i => s"s$i").orNull
      stack = id :: stack
      val prev = sc.getLocalProperty(SpanProp)
      sc.setLocalProperty(SpanProp, s"s$id|$op")
      val s = System.nanoTime
      val wallStart = System.currentTimeMillis.toDouble
      try block
      finally {
        lastMs = (System.nanoTime - s) / 1e6
        stack = stack.tail
        sc.setLocalProperty(SpanProp, prev)
        c.synchronized {
          spans += Json.obj("name" -> name, "id" -> s"s$id", "parent" -> parent,
            "op" -> op, "start_ms" -> wallStart, "end_ms" -> (wallStart + lastMs))
        }
      }
    }

  def timeCollect[T](op: String)(block: => T): T = {
    val r = time("exec.collect", op)(block)
    if (on) c.synchronized { c.collectMs += lastMs }
    r
  }

  def timeSave[T](fmt: String)(block: => T): T = {
    val r = time("io.save", s"export_$fmt")(block)
    if (on) saveMs(fmt) = saveMs.getOrElse(fmt, 0.0) + lastMs
    r
  }

  /** Bytes held by cached and checkpointed blocks (memory plus disk). */
  def storageBytes(): Long =
    sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  def writeSpans(f: File): Unit = if (traced) {
    val w = new PrintWriter(f, "UTF-8")
    try c.synchronized(spans.foreach(w.println)) finally w.close()
  }
}

object Trace {
  val SpanProp = "perfbench.span"

  private def phaseMs(qe: QueryExecution, phase: String): Double =
    qe.tracker.phases.get(phase).map(_.durationMs.toDouble).getOrElse(0.0)

  private def opOf(parent: String): String =
    Option(parent).map(_.split('|').drop(1).headOption.orNull).orNull

  final case class Counters(
      var jobs: Double = 0, var stages: Double = 0, var tasks: Double = 0,
      var runMs: Double = 0, var cpuNs: Double = 0, var gcMs: Double = 0,
      var shuffleWriteB: Double = 0, var shuffleReadB: Double = 0,
      var spillB: Double = 0, var recordsIn: Double = 0, var jobWaitMs: Double = 0,
      var analysisMs: Double = 0, var optimizeMs: Double = 0,
      var planningMs: Double = 0, var collectMs: Double = 0)
}
