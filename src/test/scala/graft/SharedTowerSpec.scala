package graft

import org.apache.spark.sql.DataFrame

import graft.operators.{Dedup, Similarity, TextAnalysis}
import graft.sources.Tables
import graft.tools.Memos

/** Round-14 optimization gates: several operators switched their EAGER
  * path onto session-memoized shared towers (verified-pair leaf, the
  * calibration-scored leaf with `inter`, bigram/term-frequency leaves,
  * the trained-codebook/assignment leaves) while the LAZY (plan-audit)
  * path keeps the original per-call tower. That makes lazy-vs-eager an
  * executable equivalence proof: identical collected rows means the
  * leaf fold computes exactly what the tower computed. Each case here
  * pins one rewritten operator; q272's restructure (single stored-side
  * CC) is pinned against the old composition spelled out inline.
  */
class SharedTowerSpec extends SparkSpec {

  private def docs = Tables(spark, testdataDir, "documents")
  private def embeddings = Tables(spark, testdataDir, "embeddings")

  /** Collect `df` rows as a sorted Seq of toString rows (schemas are
    * scalar-only per DriverContractSpec, so toString is lossless
    * enough for equality and keeps float formatting identical on both
    * sides — both paths produce the same JVM doubles). */
  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** Run `build` with eagerMaterialize=false (the original tower) and
    * release the parked persists after collecting. */
  private def lazyRows(build: => DataFrame): Seq[String] = {
    spark.conf.set("spark.graft.eagerMaterialize", "false")
    try rows(build)
    finally {
      spark.conf.set("spark.graft.eagerMaterialize", "true")
      Dedup.releaseLazyHandles()
    }
  }

  test("minhashNearDup: memoized leaf ≡ per-call tower, and repeat calls serve one leaf") {
    val eager = Dedup.minhashNearDup(docs, 0.95)
    assert(rows(eager) === lazyRows(Dedup.minhashNearDup(docs, 0.95)))
    // memo identity: a second eager call returns the SAME leaf instance
    assert(Dedup.minhashNearDup(docs, 0.95) eq Dedup.minhashNearDup(docs, 0.95))
    // a different threshold is a different key, not a stale hit
    val t90 = rows(Dedup.minhashNearDup(docs, 0.90))
    assert(t90.size >= rows(eager).size)
  }

  test("containmentAudit: calib-leaf fold ≡ full tower") {
    assert(rows(Dedup.containmentAudit(docs)) ===
      lazyRows(Dedup.containmentAudit(docs)))
  }

  test("containmentRecall: leaf ∪ winnow-only split ≡ unioned tower (flags included)") {
    assert(rows(Dedup.containmentRecall(docs)) ===
      lazyRows(Dedup.containmentRecall(docs)))
  }

  test("q272 restructure: single stored-side CC ≡ old two-CC composition, cap sweep") {
    val maxId = docs.agg(org.apache.spark.sql.functions.max("doc_id"))
      .head().getLong(0)
    for (cap <- Seq(maxId * 9 / 10, maxId / 2)) {
      val got = rows(Dedup.incrementalDedupOutput(docs, cap))
      // the pre-round-14 composition, spelled out: full keeper rebuild
      // of the stored side + the q202 label merge
      val stored = docs.where(org.apache.spark.sql.functions.col("doc_id") < cap)
      val old = Dedup.mergeKeeperTable(
        Dedup.dedupOutput(stored, 0.95),
        Dedup.incrementalClusters(docs, cap, 0.95)
          .select("doc_id", "cluster_id"),
        docs.where(org.apache.spark.sql.functions.col("doc_id") >= cap)
          .select("doc_id", "n_chars"))
      assert(got === rows(old), s"cap=$cap")
    }
  }

  test("bigram leaf: q62/q88/q265 ≡ their per-call towers") {
    assert(rows(TextAnalysis.bigramLm(docs)) ===
      lazyRows(TextAnalysis.bigramLm(docs)))
    assert(rows(TextAnalysis.lmScore(docs)) ===
      lazyRows(TextAnalysis.lmScore(docs)))
    assert(rows(TextAnalysis.referenceLmFilter(docs)) ===
      lazyRows(TextAnalysis.referenceLmFilter(docs)))
  }

  test("winnow kept/pair leaves: q195 ≡ its per-call tower") {
    assert(rows(TextAnalysis.winnowPairs(docs)) ===
      lazyRows(TextAnalysis.winnowPairs(docs)))
  }

  test("stored-labels leaf: q202 ≡ its per-call tower") {
    val maxId = docs.agg(org.apache.spark.sql.functions.max("doc_id"))
      .head().getLong(0)
    val cap = maxId * 9 / 10
    assert(rows(Dedup.incrementalClusters(docs, cap, 0.95)) ===
      lazyRows(Dedup.incrementalClusters(docs, cap, 0.95)))
    // round 15: q202's merged-label relation is itself a session leaf
    // (q272 reads the same one) — a second call serves the same
    // instance, a different cap is a different key
    assert(Dedup.incrementalClusters(docs, cap, 0.95) eq
      Dedup.incrementalClusters(docs, cap, 0.95))
    assert(!(Dedup.incrementalClusters(docs, maxId / 2, 0.95) eq
      Dedup.incrementalClusters(docs, cap, 0.95)))
  }

  test("term-frequency leaf: q41/q241 ≡ their per-call towers") {
    assert(rows(TextAnalysis.tfidfTopTerms(docs, 5)) ===
      lazyRows(TextAnalysis.tfidfTopTerms(docs, 5)))
    assert(rows(TextAnalysis.docKeywords(docs)) ===
      lazyRows(TextAnalysis.docKeywords(docs)))
  }

  test("docWords leaf: index family + co-occurrence ≡ their tokenize towers") {
    import graft.operators.{InvertedIndex, Skew}
    assert(rows(InvertedIndex.postingsStr(docs)) ===
      lazyRows(InvertedIndex.postingsStr(docs)))
    assert(rows(InvertedIndex.indexFormat(docs)) ===
      lazyRows(InvertedIndex.indexFormat(docs)))
    assert(rows(InvertedIndex.topkPerLetter(docs, 5)) ===
      lazyRows(InvertedIndex.topkPerLetter(docs, 5)))
    assert(rows(InvertedIndex.docSetAnd(docs, "batch", "scan")) ===
      lazyRows(InvertedIndex.docSetAnd(docs, "batch", "scan")))
    assert(rows(InvertedIndex.docSetExcept(docs, "batch", "slow")) ===
      lazyRows(InvertedIndex.docSetExcept(docs, "batch", "slow")))
    assert(rows(InvertedIndex.postingsTypedStr(docs)) ===
      lazyRows(InvertedIndex.postingsTypedStr(docs)))
    assert(rows(Skew.saltedWordJoin(docs)) ===
      lazyRows(Skew.saltedWordJoin(docs)))
    assert(rows(TextAnalysis.pmiPairs(docs)) ===
      lazyRows(TextAnalysis.pmiPairs(docs)))
  }

  test("derived-count leaves: q79/q239/q247/q249/q252 ≡ their towers") {
    assert(rows(TextAnalysis.vocabFreq(docs)) ===
      lazyRows(TextAnalysis.vocabFreq(docs)))
    assert(rows(TextAnalysis.pmiCollocations(docs)) ===
      lazyRows(TextAnalysis.pmiCollocations(docs)))
    assert(rows(TextAnalysis.g2Collocations(docs)) ===
      lazyRows(TextAnalysis.g2Collocations(docs)))
    assert(rows(TextAnalysis.vocabGrowth(docs)) ===
      lazyRows(TextAnalysis.vocabGrowth(docs)))
    assert(rows(TextAnalysis.vocabOverlap(docs)) ===
      lazyRows(TextAnalysis.vocabOverlap(docs)))
  }

  test("incremental-probe leaf: q90 ≡ its tower, and q269/q275 read the same leaf") {
    assert(rows(Dedup.incrementalNearDup(docs, 250L, 0.95)) ===
      lazyRows(Dedup.incrementalNearDup(docs, 250L, 0.95)))
    assert(Dedup.incrementalNearDup(docs, 250L, 0.95) eq
      Dedup.incrementalNearDup(docs, 250L, 0.95))
  }

  test("round 15: sketch/signature/token-set towers over the shared docWords leaf ≡ their tokenize towers") {
    // force the tf leaf into existence first, so the peek-based paths
    // (tokenSets, simhash sigs, minhashSignatures) take the leaf fold —
    // the exact configuration a warm suite runs in
    TextAnalysis.tfidfTopTerms(docs, 5).collect()
    assert(rows(Dedup.minhashNearDup(docs, 0.95)) ===
      lazyRows(Dedup.minhashNearDup(docs, 0.95)))
    assert(rows(Dedup.prefixFilterNearDup(docs)) ===
      lazyRows(Dedup.prefixFilterNearDup(docs)))
    assert(rows(Dedup.minhashSignatures(docs)) ===
      lazyRows(Dedup.minhashSignatures(docs)))
    assert(rows(Dedup.simhash(docs)) === lazyRows(Dedup.simhash(docs)))
  }

  test("round 15: q62 first-consumer fast path ≡ leaf fold ≡ lazy tower") {
    Memos.clearAll()
    val first = rows(TextAnalysis.bigramLm(docs)) // leaf absent: one-level aggregation
    TextAnalysis.lmScore(docs).collect() // builds the shared bigram leaf
    val after = rows(TextAnalysis.bigramLm(docs)) // leaf fold
    assert(first === after)
    assert(first === lazyRows(TextAnalysis.bigramLm(docs)))
  }

  test("codebook/assignment leaves: q92/q270/q43/q102/q93 ≡ their towers") {
    assert(rows(Similarity.kmeansAssign(embeddings)) ===
      lazyRows(Similarity.kmeansAssign(embeddings)))
    assert(rows(Similarity.ivfCellBalance(embeddings)) ===
      lazyRows(Similarity.ivfCellBalance(embeddings)))
    assert(rows(Similarity.ivfAnn(embeddings, 20, 3)) ===
      lazyRows(Similarity.ivfAnn(embeddings, 20, 3)))
    assert(rows(Similarity.ivfAnn(embeddings, 20, 3, iters = 2)) ===
      lazyRows(Similarity.ivfAnn(embeddings, 20, 3, iters = 2)))
    assert(rows(Similarity.semanticDedup(embeddings, 0.4)) ===
      lazyRows(Similarity.semanticDedup(embeddings, 0.4)))
  }
}
