package graft

import org.apache.spark.sql.DataFrame

import graft.operators.InvertedIndex
import graft.tools.Memos

/** q98 index merge and q99 BM25 ranked retrieval — the incremental
  * maintenance and scoring consumers of the index artifact. */
class RetrievalSpec extends SparkSpec {
  import spark.implicits._

  def corpus: DataFrame = Seq(
    (1L, "spark spark spark join"),
    (2L, "spark join batch merge"),
    (3L, "batch batch window sort"),
    (4L, "the quick fox")
  ).toDF("doc_id", "text")

  test("indexMerge ≡ full rebuild at any cap, including the edges") {
    val rebuilt = InvertedIndex.postingsStr(corpus)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toList
    for (cap <- Seq(0L, 1L, 3L, 99L)) {
      val merged = InvertedIndex.indexMerge(corpus, cap)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toList
      assert(merged === rebuilt, s"cap=$cap")
    }
  }

  test("indexMerge never re-sorts stored lists (cap split keeps order)") {
    // doc ids interleaved across the cap would break the concat-order
    // argument — the operator's contract is the cap SPLIT, so postings
    // on each side are < cap resp. >= cap and concat stays ascending
    val m = InvertedIndex.indexMerge(corpus, 3L)
      .where($"word" === "spark").collect()(0).getString(2)
    assert(m === "1 2")
    val b = InvertedIndex.indexMerge(corpus, 3L)
      .where($"word" === "batch").collect()(0).getString(2)
    assert(b === "2 3")
  }

  test("bm25: more matching occurrences and rarer terms rank higher") {
    val got = InvertedIndex.bm25Search(corpus, Seq("spark", "batch"), 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toList
    // docs 1-3 match; doc 4 matches nothing and must be absent
    assert(got.map(_._1).toSet === Set(1L, 2L, 3L))
    // doc 2 hits BOTH terms once; docs 1/3 hit one term (tf-saturated
    // by k1) — two-term coverage must out-rank repeated single-term hits
    assert(got.head._1 === 2L)
    // scores strictly positive and descending
    assert(got.map(_._2) === got.map(_._2).sorted.reverse)
    assert(got.forall(_._2 > 0))
  }

  test("bm25: topK bounds output; absent query terms yield empty") {
    assert(InvertedIndex.bm25Search(corpus, Seq("spark", "batch"), 2).count() === 2)
    assert(InvertedIndex.bm25Search(corpus, Seq("absent"), 5).isEmpty)
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(InvertedIndex.bm25Search(empty, Seq("spark"), 5).isEmpty)
  }

  test("bm25: distinct term sets and a permutation share one corpus tower") {
    Memos.clearAll()
    def ranked(terms: String*) = InvertedIndex.bm25Search(corpus, terms, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toList
    val sc = spark.sparkContext
    val first = ranked("spark", "join", "batch")
    val pinned = sc.getPersistentRDDs.keySet
    ranked("spark")
    ranked("window", "fox")
    ranked("merge", "sort", "quick")
    assert(ranked("batch", "spark", "join", "spark") === first)
    assert((sc.getPersistentRDDs.keySet -- pinned).isEmpty,
      "a later query pinned a tower of its own")
    assert(Memos.names.count(_ == "bm25") === 1)
    Memos.clearAll()
  }

  test("bm25: the corpus tower ≡ the lazy per-call plan, row for row") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    def rows(docs: DataFrame, terms: Seq[String]) =
      InvertedIndex.bm25Search(docs, terms, 10)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toList
    val cases = Seq(
      corpus -> Seq("spark", "batch", "spark"), // a repeated term
      corpus -> Seq("absent", "join"),          // an absent term
      empty -> Seq("spark"))                    // the empty corpus
    val eager = cases.map { case (d, t) => rows(d, t) }
    spark.conf.set("spark.graft.eagerMaterialize", "false")
    val lazyRows = try cases.map { case (d, t) => rows(d, t) }
      finally spark.conf.set("spark.graft.eagerMaterialize", "true")
    assert(eager === lazyRows)
    assert(eager(0).nonEmpty && eager(1).nonEmpty && eager(2).isEmpty)
  }

  test("bm25 is partitioning-invariant (quantized integer term sums)") {
    val docs = graft.sources.Tables(spark, testdataDir, "documents")
    val a = InvertedIndex.bm25Search(docs, Seq("spark", "join", "batch"), 20)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val b = InvertedIndex.bm25Search(docs.repartition(7), Seq("spark", "join", "batch"), 20)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(a.sameElements(b))
  }

  test("positionalMerge ≡ full rebuild at every cap, including the edges") {
    val terms = Seq("spark", "join", "batch")
    val rebuilt = InvertedIndex.positionalPostings(corpus, terms)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3))).toList
    for (cap <- Seq(0L, 1L, 3L, 99L)) {
      val merged = InvertedIndex.positionalMerge(corpus, cap, terms)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3))).toList
      assert(merged === rebuilt, s"cap=$cap")
    }
  }

  test("stored positional index + mergePositional ≡ rebuild from scratch") {
    import graft.sources.IndexStore
    val dir = java.nio.file.Files.createTempDirectory("graft_posmerge").toString
    val old = corpus.where($"doc_id" < 3L)
    val batch = corpus.where($"doc_id" >= 3L)
    IndexStore.savePositional(old, dir)
    val merged = IndexStore
      .mergePositional(IndexStore.loadPositional(spark, dir), batch)
      .select("word", "doc_id", "positions")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getSeq[Long](2).toList))
      .sortBy(t => (t._1, t._2)).toList
    val rebuilt = InvertedIndex.positionalLists(corpus)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getSeq[Long](2).toList))
      .sortBy(t => (t._1, t._2)).toList
    assert(merged === rebuilt)
    // letter column recomputed so the merged relation writes back with
    // the same partitioning scheme
    val letters = IndexStore
      .mergePositional(IndexStore.loadPositional(spark, dir), batch)
      .select("word", "letter").collect()
    assert(letters.forall(r => r.getString(1) === r.getString(0).take(1)))
  }
}
