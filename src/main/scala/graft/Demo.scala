package graft

import graft.sources.{IndexStore, Tables}

/** Runnable API sample: `runMain graft.Demo <sfDir> <indexPath>` —
  * builds and persists the inverted index, then serves point lookups
  * and doc-set queries from the stored artifact (partition-pruned). */
object Demo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = if (args.length > 1) args(1) else "/tmp/graft_index"
    val spark = GraftSession(4, 4)

    IndexStore.save(Tables(spark, sfDir, "documents"), out)
    val idx = IndexStore.load(spark, out)
    val hit = IndexStore.lookup(idx, "batch").collect()
      .map(r => s"${r.getString(0)} df=${r.getLong(1)}").mkString
    println(s"[demo] lookup: $hit")
    println(s"[demo] docsWith head: " +
      IndexStore.docsWith(idx, "batch").limit(5).collect().map(_.getLong(0)).mkString(","))
    val pruned = IndexStore.lookup(idx, "batch").queryExecution.executedPlan
      .toString.linesIterator.filter(_.contains("PartitionFilters")).mkString.trim
    println(s"[demo] $pruned")
    // the positional artifact + the queries it serves (round 4)
    IndexStore.savePositional(Tables(spark, sfDir, "documents"), out + "_pos")
    val pidx = IndexStore.loadPositional(spark, out + "_pos")
    println(s"[demo] phrase 'small query line' docs: " +
      IndexStore.phraseSearchStored(pidx, Seq("small", "query", "line"))
        .collect().map(r => s"${r.getLong(0)}×${r.getLong(1)}").mkString(","))
    println(s"[demo] bm25 top-3: " +
      graft.operators.InvertedIndex.bm25Search(
        Tables(spark, sfDir, "documents"), Seq("spark", "join", "batch"), 3)
        .collect().map(r => s"${r.getLong(0)}:${r.getLong(1)}").mkString(","))
    // round-9 surfaces: compressed ingestion, the keeper decision,
    // the split-leakage audit, float quantiles on a raw double column
    val docs = Tables(spark, sfDir, "documents")
    println(s"[demo] gz jsonl rows: " +
      graft.sources.Sidecar.gzJsonl(spark, sfDir, "documents").count())
    println(s"[demo] keep-best kept: " +
      graft.operators.Dedup.keepBest(docs)
        .where(org.apache.spark.sql.functions.col("is_kept")).count())
    println(s"[demo] split leakage: " +
      graft.operators.Sampling.splitLeakage(docs).collect().head)
    println(s"[demo] o_totalprice p50/p95 buckets: " +
      graft.operators.Relational.floatQuantiles(
        Tables(spark, sfDir, "orders"), "o_totalprice").collect().head)
    // round-10 surfaces: the shipped dedup output, the Zipf realism
    // audit, embedding norm health, interior-generation CDC
    println(s"[demo] dedup output head: " +
      graft.operators.Dedup.dedupOutput(docs).limit(2).collect().mkString(" "))
    println(s"[demo] zipf audit: " +
      graft.operators.TextAnalysis.zipfAudit(docs).limit(2).collect().mkString(" "))
    println(s"[demo] norm p50/p95 buckets: " +
      graft.operators.Similarity.normQuantiles(
        Tables(spark, sfDir, "embeddings")).collect().head)
    locally {
      val f = new java.io.File(IndexStore.versionDiffDemoFor(spark, sfDir))
      val cat = graft.sources.GraftCatalog.registerFor(
        spark, "graft_democat", f.getParent)
      val diff = IndexStore.versionDiff(
        spark.sql(s"SELECT word, df FROM $cat.`${f.getName}` VERSION AS OF 1"),
        spark.sql(s"SELECT word, df FROM $cat.`${f.getName}` VERSION AS OF 2"))
      println(s"[demo] gen1→gen2 changes: " + diff
        .groupBy("change").count().collect()
        .map(r => s"${r.getString(0)}=${r.getLong(1)}").sorted.mkString(" "))
    }
    // optional: third arg = reference-style manifest → index from raw files
    if (args.length > 2) {
      val corpus = graft.sources.RawCorpus.fromManifest(spark, args(2))
      val top = graft.operators.InvertedIndex.postings(corpus).limit(3).collect()
        .map(r => s"${r.getString(0)}:[${r.getSeq[Long](2).mkString(" ")}]").mkString(" ")
      println(s"[demo] manifest index head: $top")
    }
    spark.stop()
  }
}
