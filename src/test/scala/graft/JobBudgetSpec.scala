package graft

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._

import graft.operators.{InvertedIndex, Similarity}
import graft.sources.{IndexStore, Tables, VectorStore}

/** Scheduler budgets of the serving path: how many jobs and tasks one
  * lookup costs, counted by a SparkListener. A lookup is small, so its
  * latency is set by the per-job and per-task driver floor, not by
  * executor work. */
class JobBudgetSpec extends SparkSpec {

  private lazy val docs = Tables(spark, testdataDir, "documents")
  private lazy val emb = Tables(spark, testdataDir, "embeddings")

  /** (jobs, tasks) `body` runs. Listener events arrive asynchronously
    * but in order, so counting runs from a start-marker job to an
    * end-marker job, both excluded. */
  private def budget(body: => Unit): (Int, Int) = {
    val sc = spark.sparkContext
    val jobs, tasks = new AtomicInteger
    val markerStages = ConcurrentHashMap.newKeySet[Int]()
    @volatile var counting = false
    val ended = new CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).flatMap(p => Option(p.getProperty("spark.job.description"))) match {
          case Some("graft-budget-start") =>
            js.stageIds.foreach(markerStages.add(_)); counting = true
          case Some("graft-budget-end") =>
            js.stageIds.foreach(markerStages.add(_)); counting = false; ended.countDown()
          case _ => if (counting) jobs.incrementAndGet()
        }
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        if (counting && !markerStages.contains(te.stageId)) tasks.incrementAndGet()
    }
    def marker(name: String): Unit = {
      sc.setJobDescription(name)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
    }
    sc.addSparkListener(l)
    try {
      marker("graft-budget-start")
      body
      marker("graft-budget-end")
      assert(ended.await(30, TimeUnit.SECONDS), "end marker never observed")
      (jobs.get, tasks.get)
    } finally sc.removeSparkListener(l)
  }

  test("a warm bm25Search runs at most 2 jobs") {
    InvertedIndex.bm25Search(docs, Seq("spark", "join"), 10).collect()
    val (jobs, _) = budget(
      InvertedIndex.bm25Search(docs, Seq("batch", "window", "sort"), 10).collect())
    info(s"$jobs jobs")
    assert(jobs <= 2, s"warm bm25Search ran $jobs jobs")
  }

  test("an lshAnnStored probe runs at most 4 jobs") {
    val dir = java.nio.file.Files.createTempDirectory("graft_budget_vec").toString + "/v"
    VectorStore.saveLshBinary(emb, dir)
    val stored = spark.read.format("graft-vectors").load(dir)
    val (jobs, _) = budget(Similarity.lshAnnStored(
      emb.where(col("vec_id").isin(3L, 17L, 42L)), stored, Int.MaxValue, 5).collect())
    info(s"$jobs jobs")
    assert(jobs <= 4, s"lshAnnStored ran $jobs jobs")
  }

  /** A base of the even documents plus two delta epochs. */
  private def twoDeltaStore(): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_budget_idx").toString
    IndexStore.writeIndexTable(
      InvertedIndex.postingsUnordered(docs.where(col("doc_id") % 2 === 0)), dir)
    IndexStore.writeIndexDelta(
      InvertedIndex.postingsUnordered(docs.where(col("doc_id") % 4 === 1)), dir, 1L)
    IndexStore.writeIndexDelta(
      InvertedIndex.postingsUnordered(docs.where(col("doc_id") % 4 === 3)), dir, 2L)
    dir
  }

  test("readMerged over a base and two deltas runs 1 job") {
    val dir = twoDeltaStore()
    val (jobs, _) = budget(IndexStore.readMerged(spark, dir).collect())
    info(s"$jobs jobs")
    assert(jobs === 1, s"merged read ran $jobs jobs")
  }

  test("compact runs at most 2 jobs and plans no broadcast") {
    val dir = twoDeltaStore()
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val seen = new CountDownLatch(1)
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          ns: Long): Unit = { plans.add(qe.executedPlan.toString); seen.countDown() }
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    val (jobs, _) =
      try budget(IndexStore.compact(spark, dir, retainGeneration = true))
      finally {
        assert(seen.await(30, TimeUnit.SECONDS), "compaction plan never observed")
        spark.listenerManager.unregister(l)
      }
    info(s"$jobs jobs")
    assert(jobs <= 2, s"compact ran $jobs jobs")
    plans.forEach(p => assert(!p.contains("BroadcastExchange"), p))
    assert(IndexStore.listDeltas(spark, dir).isEmpty)
  }

  test("a one-shot index build runs at most 2 jobs and registers no tower") {
    val dir = java.nio.file.Files.createTempDirectory("graft_budget_build").toString
    val fresh = docs.where(col("doc_id") % 3 === 0) // no tf leaf exists for it
    val towers = graft.tools.Memos.names
    val (jobs, _) = budget(
      IndexStore.writeIndexTable(InvertedIndex.postingsUnordered(fresh), dir))
    info(s"$jobs jobs")
    assert(jobs <= 2, s"one-shot build ran $jobs jobs")
    assert(graft.tools.Memos.names.sorted === towers.sorted)
  }

  test("an unfiltered graft-index top-N runs at most defaultParallelism tasks") {
    val idx = IndexStore.readIndexTable(spark, IndexStore.textIndexFor(spark, testdataDir))
    val (_, tasks) = budget(idx.select("word", "df")
      .orderBy(col("df").desc, col("word").asc).limit(10).collect())
    info(s"$tasks tasks")
    assert(tasks <= spark.sparkContext.defaultParallelism,
      s"top-N ran $tasks tasks")
  }
}
