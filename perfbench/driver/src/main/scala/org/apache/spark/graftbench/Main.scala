package org.apache.spark.graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Benchmark driver: one JVM runs one workload.
  *
  * {{{
  * Main --workload <index-lifecycle|lookup-serving>
  *      --data <dir> --out <dir> --run <dir>
  *      --seconds <s> --trace <0|1> --cpus <n> --setups <k>
  * }}}
  *
  * Order of events: `--setups` timed set-ups, each in a fresh session
  * (the last one is kept; the first also pays for the JVM's first
  * session, which the median of three discards); one untimed warm-up
  * round; then whole rounds until `--seconds` have passed and at least
  * the workload's `minRounds` are done. Every call into `graft.operators` / `graft.sources` is
  * one operation: it is counted, and timed only when it succeeds. Raw
  * samples go to `<out>/result.json`, the outputs of the last round to
  * `<out>/outputs.jsonl` for the independent checks, and with
  * `--trace 1` the spans to `<out>/spans.jsonl`. */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val run = new Run(a)
    try run.go()
    finally SparkSession.getActiveSession.foreach(_.stop())
  }
}

/** One pass: per operation its name, wall seconds and the JVM's
  * process CPU seconds (all threads: driver, executors, GC, JIT). */
final case class Pass(ops: mutable.ArrayBuffer[(String, Double, Double)])

final class Run(a: Map[String, String]) {
  val workload: String = a("workload")
  val out: String = a("out")
  val runDir: String = a("run")
  private val seconds = a("seconds").toDouble
  private val trace = a("trace") == "1"
  private val cpus = a("cpus").toInt

  var spark: SparkSession = _
  var tracer: Tracer = _
  private var timing = false
  var attempted = 0L
  var failed = 0L
  val setupS = mutable.ArrayBuffer.empty[Double]
  val passes = mutable.ArrayBuffer.empty[Pass]
  private var pass: Pass = _
  /** Bytes the workload keeps on disk: the store after each pass, or
    * the served artifacts. */
  val spaceBytes = mutable.ArrayBuffer.empty[Double]
  /** Outputs for the checks: the last round's (index-lifecycle) or
    * every timed lookup's (lookup-serving). */
  var outputs = mutable.LinkedHashMap.empty[String, Any]
  val extra = mutable.LinkedHashMap.empty[String, Any]

  // per-layer samples, filled only by a traced run
  val callS = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  val actionS = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  val sourceS = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  var towerBuilds = 0L
  var towerHits = 0L
  var towerBuildS = 0.0
  val pinnedAfterClearB = mutable.ArrayBuffer.empty[Double]
  var pinnedAtEndB = 0.0

  def newSession(): SparkSession = {
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graft-bench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // the wrong-results guard every graft session sets (see Bench)
      .config("spark.sql.unionOutputPartitioning", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$runDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    spark = s
    tracer = new Tracer(s, on = false)
    s
  }

  private def mk(dir: String): Workload = workload match {
    case "index-lifecycle" => new Lifecycle(this, dir)
    case "lookup-serving" => new LookupServing(this, dir)
    case w => throw new IllegalArgumentException(s"unknown workload $w")
  }

  def go(): Unit = {
    new java.io.File(out).mkdirs()
    var w: Workload = null
    (1 to a("setups").toInt).foreach { _ =>
      val t0 = System.nanoTime()
      newSession()
      w = mk(a("data"))
      w.setup()
      setupS += (System.nanoTime() - t0) / 1e9
    }
    w.afterSetup()
    w.warmUp()

    tracer = new Tracer(spark, trace)
    timing = true
    val t0 = System.nanoTime()
    var r = 0
    while ((System.nanoTime() - t0) / 1e9 < seconds || r < w.minRounds) {
      w.round(r)
      r += 1
    }
    timing = false
    pinnedAtEndB = pinnedBytes()
    extra("rounds") = r

    val ow = new java.io.PrintWriter(s"$out/outputs.jsonl", "UTF-8")
    try outputs.foreach { case (k, v) =>
      ow.println(Json.obj(Seq("name" -> k, "rows" -> v)))
    } finally ow.close()
    if (trace) tracer.writeSpans(s"$out/spans.jsonl")
    val res = Seq("workload" -> workload, "cpus" -> cpus,
      "attempted" -> attempted, "failed" -> failed, "setup_s" -> setupS,
      "passes" -> passes.map(_.ops.map { case (n, s, c) => Seq(n, s, c) }),
      "space_bytes" -> spaceBytes, "extra" -> extra) ++
      (if (trace) Seq("layers" -> mutable.LinkedHashMap(Layers.of(this): _*)) else Nil)
    val rw = new java.io.PrintWriter(s"$out/result.json", "UTF-8")
    try rw.println(Json.obj(res)) finally rw.close()
  }

  /** One pass of operations; only passes of the timed loop are kept. */
  def inPass(body: => Unit): Unit = {
    val p = Pass(mutable.ArrayBuffer.empty)
    pass = p
    tracer.span("pass")(body)
    if (timing) passes += p
  }

  /** One operation: counted, timed on success, never timed on failure. */
  def op[T](name: String)(body: => T): Option[T] = {
    if (timing) attempted += 1
    tracer.span(name) {
      val c0 = cpuNs()
      val t0 = System.nanoTime()
      try {
        val r = body
        val s = (System.nanoTime() - t0) / 1e9
        if (timing) {
          pass.ops += ((name, s, (cpuNs() - c0) / 1e9))
          if (tracer.on && name.startsWith("sources."))
            sourceS.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += s
        }
        Some(r)
      } catch {
        case e: Exception =>
          if (timing) failed += 1
          System.err.println(s"[graft-bench] $name failed: $e")
          None
      }
    }
  }

  /** An operator call and the action that materialises its result,
    * timed apart. For an operator with a session memo (`memoized`) the
    * persistent-RDD diff around the call tells a tower build from a
    * tower hit. */
  def operator(fn: String, memoized: Boolean = false)(
      call: => DataFrame): Option[Array[Row]] =
    op(s"operators.$fn") {
      val sc = spark.sparkContext
      val before = if (tracer.on) sc.getPersistentRDDs.keySet else Set.empty[Int]
      val t0 = System.nanoTime()
      val df = tracer.span(s"$fn.call")(call)
      val t1 = System.nanoTime()
      val rows = tracer.span(s"$fn.action")(df.collect())
      val t2 = System.nanoTime()
      if (tracer.on && timing) {
        callS.getOrElseUpdate(fn, mutable.ArrayBuffer.empty) += (t1 - t0) / 1e9
        actionS.getOrElseUpdate(fn, mutable.ArrayBuffer.empty) += (t2 - t1) / 1e9
        if (memoized) {
          val added = sc.getPersistentRDDs.keySet -- before
          if (added.isEmpty) towerHits += 1
          else { towerBuilds += added.size; towerBuildS += (t2 - t0) / 1e9 }
        }
      }
      rows
    }

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuNs(): Long = os.getProcessCpuTime

  /** Bytes held by persisted RDDs (memory plus disk). */
  def pinnedBytes(): Double = spark.sparkContext.getRDDStorageInfo
    .map(i => (i.memSize + i.diskSize).toDouble).sum

  /** Forget every tower: `Memos.clearAll()`, then unpersist whatever
    * the session still pins, so the next pass builds each tower once. */
  def clearTowers(): Unit = {
    graft.tools.Memos.clearAll()
    if (timing) pinnedAfterClearB += pinnedBytes()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  private var ids = 0
  /** A fresh number for a directory name. */
  def nextId(): Int = { ids += 1; ids }

  def dirBytes(path: String): Double = {
    val f = new java.io.File(path)
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(x => dirBytes(x.getPath)).sum
    else f.length.toDouble
  }

  def deleteDir(path: String): Unit = {
    val f = new java.io.File(path)
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(x => deleteDir(x.getPath))
    f.delete()
  }

  def isTiming: Boolean = timing
}

trait Workload {
  /** Load inputs and build artifacts. */
  def setup(): Unit
  /** Work done once after the last set-up, outside the set-up time. */
  def afterSetup(): Unit = ()
  /** One whole round of the workload's operations. */
  def round(r: Int): Unit
  /** Rounds a run times at least, however long they take. */
  def minRounds: Int = 1
  /** The untimed warm-up after set-up. */
  def warmUp(): Unit
}
