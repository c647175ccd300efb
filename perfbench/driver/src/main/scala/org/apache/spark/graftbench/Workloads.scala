package org.apache.spark.graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.operators.{InvertedIndex, Similarity}
import graft.sources.{GraftCatalog, IndexStore, VectorStore}

/** `key value` lines written by the generator. */
object Params {
  def read(path: String): Map[String, String] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().filter(_.nonEmpty).map { l =>
      val i = l.indexOf(' ')
      l.take(i) -> l.drop(i + 1)
    }.toMap
    finally src.close()
  }
}

/** index-lifecycle: the reference's index build made incremental. One
  * round is one pass over a fresh store: base build, delta ingests
  * each followed by a merged read, compaction with generation
  * retention, a catalog DELETE and MERGE INTO, more ingests, a second
  * compaction, then both retained generations, their version diff and
  * the live index are read. */
final class Lifecycle(run: Run, data: String) extends Workload {
  private val params = Params.read(s"$data/params.txt")
  private val nBatches = params("batches").toInt
  private var batches: IndexedSeq[DataFrame] = _
  private var mergeSrc: DataFrame = _
  private var cat: String = _
  private val warehouse = s"${run.runDir}/stores"
  private var previous: Option[String] = None

  def setup(): Unit = {
    val spark = run.spark
    batches = (0 to nBatches).map(i => spark.read.parquet(s"$data/batch$i.parquet"))
    mergeSrc = spark.read.parquet(s"$data/merge_src.parquet")
    (batches :+ mergeSrc).foreach(_.count())
    new java.io.File(warehouse).mkdirs()
    cat = GraftCatalog.registerFor(spark, "graft_bench", warehouse)
  }

  /** The first half of a pass: every kind of store call once. */
  override def warmUp(): Unit = pass(short = true)

  def round(r: Int): Unit = pass(short = false)

  private def pass(short: Boolean): Unit = {
    val spark = run.spark
    run.clearTowers()
    val name = s"store_${run.nextId()}"
    val dir = s"$warehouse/$name"
    val table = s"$cat.`$name`"
    val o = mutable.LinkedHashMap.empty[String, Any]
    def postings(df: DataFrame) = InvertedIndex.postingsUnordered(df)
    def ingest(i: Int): Unit = {
      run.op("sources.delta")(
        IndexStore.writeIndexDelta(postings(batches(i)), dir, i.toLong))
      run.op("sources.read")(IndexStore.readMerged(spark, dir).collect())
        .foreach(o(s"merged$i") = _)
    }
    def generation(g: Int) =
      spark.sql(s"SELECT word, df, postings FROM $table VERSION AS OF $g")
    val firstHalf = (nBatches + 1) / 2
    run.inPass {
      run.op("sources.build")(IndexStore.writeIndexTable(postings(batches(0)), dir))
      (1 to firstHalf).foreach(ingest)
      run.op("sources.compact")(IndexStore.compact(spark, dir, retainGeneration = true))
      run.op("sources.dml")(spark.sql(
        s"DELETE FROM $table WHERE word LIKE '${params("delete_letter")}%'"))
      run.op("sources.dml") {
        postings(mergeSrc)
          .where(substring(col("word"), 1, 1).isin(params("merge_letters").split(","): _*))
          .select(col("word"), col("df"),
            col("postings").cast("array<bigint>").as("postings"))
          .createOrReplaceTempView("graft_bench_merge_src")
        spark.sql(
          s"""MERGE INTO $table t USING graft_bench_merge_src s ON t.word = s.word
             |WHEN MATCHED THEN UPDATE SET df = s.df, postings = s.postings
             |WHEN NOT MATCHED THEN
             |  INSERT (word, df, postings) VALUES (s.word, s.df, s.postings)"""
            .stripMargin)
      }
      if (!short) {
        (firstHalf + 1 to nBatches).foreach(ingest)
        run.op("sources.compact")(IndexStore.compact(spark, dir, retainGeneration = true))
        run.op("sources.read")(generation(0).collect()).foreach(o("gen0") = _)
        run.op("sources.read")(generation(1).collect()).foreach(o("gen1") = _)
        run.op("sources.read")(IndexStore.versionDiff(generation(0), generation(1))
          .collect()).foreach(o("diff01") = _)
        run.op("sources.read")(IndexStore.readIndexTable(spark, dir).collect())
          .foreach(o("live") = _)
      }
    }
    val bytes = run.dirBytes(dir)
    if (run.isTiming) run.spaceBytes += bytes
    previous.foreach(run.deleteDir)
    previous = Some(dir)
    run.extra("store_dir") = dir
    run.outputs = o
  }
}

/** lookup-serving: a seeded stream of small reads against artifacts
  * built in set-up. Round `r` runs line group `r mod n` of `ops.tsv`
  * (`round kind arg,arg,...`). */
final class LookupServing(run: Run, data: String) extends Workload {
  private val rounds: IndexedSeq[IndexedSeq[(String, Array[String])]] = {
    val src = scala.io.Source.fromFile(s"$data/ops.tsv", "UTF-8")
    try src.getLines().filter(_.nonEmpty).map(_.split("\t"))
      .map(f => (f(0).toInt, (f(1), f(2).split(",")))).toSeq
      .groupBy(_._1).toSeq.sortBy(_._1).map(_._2.map(_._2).toIndexedSeq).toIndexedSeq
    finally src.close()
  }
  private var docs, emb, idx, pos, stored: DataFrame = _
  private val dirs = mutable.ArrayBuffer.empty[String]

  def setup(): Unit = {
    val spark = run.spark
    docs = spark.read.parquet(s"$data/documents.parquet")
    emb = spark.read.parquet(s"$data/embeddings.parquet")
    val base = s"${run.runDir}/lookup_${run.nextId()}"
    dirs += base
    IndexStore.writeIndexTable(InvertedIndex.postingsUnordered(docs), s"$base/index")
    IndexStore.savePositional(docs, s"$base/positional")
    VectorStore.saveLshBinary(emb, s"$base/vectors")
    idx = IndexStore.readIndexTable(spark, s"$base/index")
    pos = IndexStore.loadPositional(spark, s"$base/positional")
    stored = spark.read.format("graft-vectors").load(s"$base/vectors")
  }

  /** 48 lookups, so the median has a tail of 24 on either side. */
  override def minRounds: Int = 3

  /** A round the timed loop does not reach (it runs a few of 40). */
  override def warmUp(): Unit = round(rounds.size - 1)

  override def afterSetup(): Unit = {
    dirs.init.foreach(run.deleteDir)
    run.spaceBytes += run.dirBytes(dirs.last)
  }

  private def docsOf(w: String): DataFrame =
    idx.where(col("word") === w).select(explode(col("postings")).as("doc_id"))

  def round(r: Int): Unit = run.inPass {
    rounds(r % rounds.size).zipWithIndex.foreach { case ((kind, args), i) =>
      val rows: Option[Array[Row]] = kind match {
        case "postings" => run.op("lookup.postings")(
          idx.where(col("word") === args(0)).select("word", "df", "postings").collect())
        case "topn" => run.op("lookup.topn")(idx.select("word", "df")
          .orderBy(col("df").desc, col("word").asc).limit(args(0).toInt).collect())
        case "and" => run.op("lookup.and")(
          docsOf(args(0)).intersect(docsOf(args(1))).orderBy("doc_id").collect())
        case "andnot" => run.op("lookup.andnot")(
          docsOf(args(0)).except(docsOf(args(1))).orderBy("doc_id").collect())
        case "phrase" => run.op("lookup.phrase")(
          IndexStore.phraseSearchStored(pos, args.toSeq).collect())
        case "bm25" => run.operator("bm25Search", memoized = true)(
          InvertedIndex.bm25Search(docs, args.toSeq, 10))
        case "ann" => run.operator("lshAnnStored")(Similarity.lshAnnStored(
          emb.where(col("vec_id").isin(args.map(_.toLong): _*)), stored,
          Int.MaxValue, 5))
      }
      if (run.isTiming) rows.foreach(x => run.outputs(s"$r.$i") = x)
    }
  }
}

/** Per-layer metrics of a traced run, each normalised per operation of
  * the timed loop, per pass, or as a median over calls. */
object Layers {
  val Operators = Seq("bm25Search", "lshAnnStored")
  val Sources = Seq("build", "delta", "compact", "dml", "read")

  def median(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.toIndexedSeq.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def of(run: Run): Seq[(String, Double)] = {
    val t = run.tracer
    val opSpans = t.spans.filter(s => s.parent >= 0 &&
      t.spans(s.parent).name == "pass")
    val nOps = math.max(1, opSpans.size).toDouble
    val nPasses = math.max(1, run.passes.size).toDouble
    val all = t.counters.values.toSeq
    def perOp(f: Counters => Double) = all.map(f).sum / nOps
    def src(k: String) = all.map(_.source(k)).sum.toDouble
    val planned = src("plannedIndexFiles")
    val pruned = src("prunedIndexFiles")
    Seq(
      "driver.analysis_ms" -> perOp(_.analysisMs),
      "driver.optimization_ms" -> perOp(_.optimizationMs),
      "driver.planning_ms" -> perOp(_.planningMs),
      "scheduler.jobs" -> perOp(_.jobs.toDouble),
      "scheduler.tasks" -> perOp(_.tasks.toDouble),
      "scheduler.idle_ms" -> opSpans.map(s => t.idleMs(s.id)).sum / nOps,
      "executor.run_s" -> perOp(_.runMs / 1e3),
      "executor.cpu_s" -> perOp(_.cpuNs / 1e9),
      "executor.gc_s" -> perOp(_.gcMs / 1e3),
      "executor.shuffle_write_mb" -> perOp(_.shuffleWriteB / 1e6),
      "executor.spill_mb" -> perOp(_.spillB / 1e6),
      "towers.builds" -> run.towerBuilds / nPasses,
      "towers.hits" -> run.towerHits / nPasses,
      "towers.build_s" -> run.towerBuildS / nPasses,
      "towers.pinned_after_clear_mb" -> median(run.pinnedAfterClearB) / 1e6,
      "towers.pinned_at_end_mb" -> run.pinnedAtEndB / 1e6) ++
    Operators.flatMap(f => Seq(
      s"operators.$f.call_s" -> median(run.callS.getOrElse(f, Nil)),
      s"operators.$f.action_s" -> median(run.actionS.getOrElse(f, Nil)))) ++
    Sources.map(k => s"sources.${k}_s" -> median(run.sourceS.getOrElse(s"sources.$k", Nil))) ++
    Seq(
      "sources.store_bytes" -> median(run.spaceBytes),
      "sources.lines_written" -> src("indexLinesWritten") / nPasses,
      "sources.files_written" -> src("indexFilesWritten") / nPasses,
      "sources.planned_files" -> planned / nOps,
      "sources.pruned_files" -> pruned / nOps,
      "sources.lines_read" -> src("indexLinesRead") / nOps,
      "sources.prune_ratio" ->
        (if (planned + pruned > 0) pruned / (planned + pruned) else 0.0))
  }
}
