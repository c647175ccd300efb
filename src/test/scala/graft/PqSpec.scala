package graft

import graft.operators.Similarity
import graft.sources.Tables
import graft.tools.Memos

/** q106 product quantization: recall against the exact baseline,
  * partitioning-invariance of the quantized training arithmetic, and
  * degenerate inputs. */
class PqSpec extends SparkSpec {
  import spark.implicits._

  private def pairs(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("pqAnn recall vs the exact q19 cosine top-k baseline") {
    val emb = Tables(spark, testdataDir, "embeddings")
    val exact = pairs(Similarity.cosineTopK(emb, 20, 3).select("vec_a", "vec_b"))
    val pq = pairs(Similarity.pqAnn(emb, 20, 3).select("vec_a", "vec_b"))
    assert(pq.nonEmpty)
    val recall = (exact & pq).size.toDouble / exact.size
    info(f"PQ recall@3 vs exact = $recall%.2f (${(exact & pq).size}/${exact.size})")
    // 32×2-dim codebooks of 16 centroids: measured 0.62–0.70 recall@3
    // across all three testdata scales (the synthetic embeddings are
    // near-uniform — adversarial for any lossy sketch; the classic 8×8
    // split measured only ~0.25 here). The floor is a regression
    // tripwire, not a quality target.
    assert(recall >= 0.4, f"recall collapsed: $recall%.2f")
  }

  test("pqAnn is partitioning-invariant (quantized centroid sums)") {
    val emb = Tables(spark, testdataDir, "embeddings")
    val a = Similarity.pqAnn(emb, 10, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toList
    val b = Similarity.pqAnn(emb.repartition(7), 10, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toList
    assert(a === b)
  }

  test("ivfPqAnn ⊆ the IVF candidate set, scored by PQ (q43 ∩ q106 shape)") {
    val emb = Tables(spark, testdataDir, "embeddings")
    val ivfpq = Similarity.ivfPqAnn(emb, 20, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toList
    assert(ivfpq.nonEmpty)
    // candidate legality: every returned pair must share a cell under
    // the SAME coarse assignment q43 uses (home cell of b ∈ probes of a)
    val ivf = pairs(Similarity.ivfAnn(emb, 20, 500).select("vec_a", "vec_b"))
    assert(ivfpq.map(p => (p._1, p._2)).toSet.subsetOf(ivf),
      "IVF-PQ returned a pair outside the coarse candidate set")
    // ranking within cells comes from PQ, not full precision: the probe
    // still finds most exact neighbors that survive the cell filter
    val exact = pairs(Similarity.cosineTopK(emb, 20, 3).select("vec_a", "vec_b"))
    val recall = (exact & ivfpq.toSet).size.toDouble / exact.size
    info(f"IVF-PQ recall@3 vs exact = $recall%.2f")
    assert(recall >= 0.2, f"recall collapsed: $recall%.2f")
  }

  test("ivfPqAnn is partitioning-invariant") {
    val emb = Tables(spark, testdataDir, "embeddings")
    val a = Similarity.ivfPqAnn(emb, 10, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4))).toList
    val b = Similarity.ivfPqAnn(emb.repartition(7), 10, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4))).toList
    assert(a === b)
  }

  test("stored PQ index: save → load → adcSearchStored ≡ pqAnn bit-for-bit") {
    import graft.sources.VectorStore
    val emb = Tables(spark, testdataDir, "embeddings")
    val dir = java.nio.file.Files.createTempDirectory("graft_pq").toString
    VectorStore.savePq(emb, dir)
    val (cb, codes) = VectorStore.loadPq(spark, dir)
    // codebooks are parameter-sized, codes are numSubs rows per vector
    assert(cb.count() <= graft.operators.Similarity.PqNumSubs.toLong *
      graft.operators.Similarity.PqKsub)
    assert(codes.count() === emb.count() * graft.operators.Similarity.PqNumSubs)
    val stored = VectorStore.adcSearchStored(cb, codes, emb, 20, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toList
    val direct = graft.operators.Similarity.pqAnn(emb, 20, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toList
    assert(stored === direct)
  }

  test("incremental PQ ingest: encode-new against the stored codebook") {
    import graft.sources.VectorStore
    import org.apache.spark.sql.functions.col
    val emb = Tables(spark, testdataDir, "embeddings")
    val cap = 250L
    val dir = java.nio.file.Files.createTempDirectory("graft_pqinc").toString
    // "yesterday": train + store on the old half only
    VectorStore.savePq(emb.where(col("vec_id") < cap), dir)
    val (cb, oldCodes) = VectorStore.loadPq(spark, dir)
    // "today": encode the new half against the STORED codebook
    val newCodes = VectorStore.encodePq(cb, emb.where(col("vec_id") >= cap))
    def codeList(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2)).toList
    // pointwise-given-codebook: encoding the WHOLE corpus against the
    // stored codebook ≡ stored codes ∪ the new batch's codes — batch
    // boundaries cannot change any code
    val whole = codeList(VectorStore.encodePq(cb, emb))
    assert(whole === codeList(oldCodes.union(newCodes)))
    // the appended index serves old and new vectors alike
    val served = VectorStore
      .adcSearchStored(cb, oldCodes.union(newCodes), emb, 20, 3)
    val ids = served.select("vec_b").collect().map(_.getLong(0)).toSet
    assert(served.count() === 60)
    assert(ids.exists(_ >= cap), "no new-batch vector ever served")
  }

  test("q106/q107 share ONE trained codebook per session (memo)") {
    Memos.clearAll()
    val emb = Tables(spark, testdataDir, "embeddings")
    val a = Similarity.pqAnn(emb, 10, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toList
    assert(Memos.names.count(_ == "trainedPq") === 1)
    // ivfPqAnn reads the table through its own Tables() call — the
    // semanticHash key must still hit (two reads of one path
    // canonicalize equal), so NO second Lloyd chain runs
    assert(Similarity.ivfPqAnn(Tables(spark, testdataDir, "embeddings"), 10, 3)
      .count() > 0)
    assert(Memos.names.count(_ == "trainedPq") === 1,
      "ivfPqAnn retrained instead of reusing the session codebook")
    // reuse is result-invariant: a repeat probe serves identical rows
    val b = Similarity.pqAnn(emb, 10, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toList
    assert(a === b)
  }

  test("pqAnn on empty / tiny inputs: well-typed, no throw") {
    val empty = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    assert(Similarity.pqAnn(empty, 5, 3).count() === 0)
    // two vectors: each is the other's (reconstructed) neighbor
    val two = Seq(
      (0L, Array.fill(64)(1.0f)),
      (1L, Array.tabulate(64)(i => if (i < 32) 1.0f else -1.0f)))
      .toDF("vec_id", "embedding")
    val got = pairs(Similarity.pqAnn(two, 5, 3).select("vec_a", "vec_b"))
    assert(got === Set((0L, 1L), (1L, 0L)))
  }
}
