package org.apache.spark.graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** What the Spark layers under one span did, as seen from outside the
  * program: listener task metrics, planning-tracker phases and the
  * DSv2 custom metrics of the executed plans. */
final class Counters {
  var jobs = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteB = 0L
  var spillB = 0L
  var analysisMs = 0.0
  var optimizationMs = 0.0
  var planningMs = 0.0
  val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  val source = mutable.Map.empty[String, Long].withDefaultValue(0L)
}

final case class Span(id: Int, parent: Int, name: String, startNs: Long,
    startMs: Long, var endNs: Long = 0L, var endMs: Long = 0L)

/** Spans around every call the benchmark makes into the program, each
  * with its own Spark job group, so listener events land on the span
  * that caused them. With `on = false` a span is just its body: the
  * untraced run registers no listener and sets no job group. */
final class Tracer(spark: SparkSession, val on: Boolean) {
  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer.empty[Span]
  val counters = mutable.Map.empty[Int, Counters]
  private val stack = mutable.Stack.empty[Int]
  @volatile private var current = -1
  private val stageSpan = mutable.Map.empty[Int, Int]

  private def countersOf(id: Int): Counters = synchronized {
    counters.getOrElseUpdate(id, new Counters)
  }

  if (on) {
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val id = Option(e.properties).flatMap(p =>
          Option(p.getProperty(SparkContext.SPARK_JOB_GROUP_ID)))
          .filter(_.startsWith("bench-")).map(_.stripPrefix("bench-").toInt)
          .getOrElse(current)
        Tracer.this.synchronized {
          e.stageIds.foreach(s => stageSpan(s) = id)
        }
        val c = countersOf(id)
        c.synchronized { c.jobs += 1 }
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val id = Tracer.this.synchronized(stageSpan.getOrElse(e.stageId, current))
        val c = countersOf(id)
        c.synchronized {
          c.tasks += 1
          c.taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
          val m = e.taskMetrics
          if (m != null) {
            c.runMs += m.executorRunTime
            c.cpuNs += m.executorCpuTime
            c.gcMs += m.jvmGCTime
            c.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
            c.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
          }
        }
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        record(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        record(qe)
    })
  }

  private def record(qe: QueryExecution): Unit = {
    val c = countersOf(current)
    val phases = qe.tracker.phases
    def ms(p: String) = phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
    val src = PlanMetrics.of(qe)
    c.synchronized {
      c.analysisMs += ms("analysis")
      c.optimizationMs += ms("optimization")
      c.planningMs += ms("planning")
      src.foreach { case (k, v) => c.source(k) += v }
    }
  }

  /** Wait until the listener bus has delivered every event so far. */
  private def drain(): Unit = sc.listenerBus.waitUntilEmpty()

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val s = Span(spans.size, stack.headOption.getOrElse(-1), name,
        System.nanoTime(), System.currentTimeMillis())
      spans += s
      countersOf(s.id)
      enter(s.id)
      try body
      finally {
        drain()
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        stack.pop()
        stack.headOption match {
          case Some(p) => setGroup(p)
          case None => sc.clearJobGroup(); current = -1
        }
      }
    }

  private def enter(id: Int): Unit = { stack.push(id); setGroup(id) }

  private def setGroup(id: Int): Unit = {
    sc.setJobGroup(s"bench-$id", spans(id).name, interruptOnCancel = false)
    current = id
  }

  /** The span and all spans nested in it. */
  def subtree(id: Int): Seq[Span] = {
    val kids = spans.filter(_.parent == id).toSeq
    spans(id) +: kids.flatMap(k => subtree(k.id))
  }

  /** Wall time of span `id` during which no task of its subtree ran. */
  def idleMs(id: Int): Double = {
    val s = spans(id)
    val iv = subtree(id).flatMap(k => countersOf(k.id).taskIntervals)
      .map { case (a, b) => (math.max(a, s.startMs), math.min(b, s.endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var (lo, hi) = (Long.MinValue, Long.MinValue)
    iv.foreach { case (a, b) =>
      if (a > hi) { covered += math.max(0L, hi - lo); lo = a; hi = b }
      else hi = math.max(hi, b)
    }
    covered += math.max(0L, hi - lo)
    math.max(0.0, (s.endMs - s.startMs - covered).toDouble)
  }

  def writeSpans(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      val c = countersOf(s.id)
      w.println(Json.obj(Seq("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "jobs" -> c.jobs, "tasks" -> c.tasks, "run_ms" -> c.runMs,
        "cpu_ms" -> c.cpuNs / 1000000, "planning_ms" ->
          (c.analysisMs + c.optimizationMs + c.planningMs),
        "source" -> c.source)))
    } finally w.close()
  }
}

/** DSv2 custom metrics of an executed plan, summed by metric name. */
object PlanMetrics extends AdaptiveSparkPlanHelper {
  val Names = Set("plannedIndexFiles", "prunedIndexFiles", "indexLinesRead",
    "indexLinesWritten", "indexFilesWritten")

  def of(qe: QueryExecution): Map[String, Long] = {
    val root: SparkPlan = qe.executedPlan match {
      case c: CommandResultExec => c.commandPhysicalPlan
      case p => p
    }
    collectWithSubqueries(root) { case p => p }
      .flatMap(_.metrics.collect { case (k, m) if Names(k) => k -> m.value })
      .groupMapReduce(_._1)(_._2)(_ + _)
  }
}
