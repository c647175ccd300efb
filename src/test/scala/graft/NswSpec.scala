package graft

import org.apache.spark.sql.functions._

import graft.operators.Similarity
import graft.sources.Tables
import graft.tools.Memos

/** Graph-based ANN (NSW — the flat ancestor of HNSW, round-7 "What's
  * missing" #4): spec-gated like the streaming family (a beam search
  * has no DuckDB replay), with the q19 exact top-k as the measured
  * recall baseline — the PqSpec convention. */
class NswSpec extends SparkSpec {

  private lazy val emb = Tables(spark, testdataDir, "embeddings")

  test("graph degree is bounded by construction: <= 2m per node") {
    val edges = Similarity.nswGraph(emb, m = 6)
    val maxDeg = edges.groupBy("src").agg(count(lit(1)).as("d"))
      .agg(max(col("d"))).collect()(0).getLong(0)
    assert(maxDeg <= 12L, s"degree $maxDeg exceeds 2m")
    // linear edge volume: n*(<=2m), never a distance matrix
    val n = emb.count()
    assert(edges.count() <= n * 12)
    // navigable: most links are bidirectional (strict symmetry is
    // deliberately traded for the hard 2m degree bound — the HNSW
    // pruning rule; a hub keeps only its best 2m in-links)
    val total = edges.count()
    val sym = edges.select("src", "dst")
      .intersect(edges.select(col("dst").as("src"), col("src").as("dst")))
      .count()
    assert(sym.toDouble / total >= 0.5,
      f"only ${sym.toDouble / total}%.2f of links bidirectional")
  }

  test("beam search recall vs the exact q19 baseline, deterministic") {
    val exact = Similarity.cosineTopK(emb, 20, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = Similarity.nswSearch(emb, 20, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    val gotPairs = got.map(p => (p._1, p._2)).toSet
    val recall = gotPairs.intersect(exact).size.toDouble / exact.size
    info(f"nsw recall@3 = $recall%.3f (${gotPairs.intersect(exact).size}/${exact.size})")
    // calibrated on the committed testdata; a build/search change that
    // degrades navigation fails here (the PqSpec recall-pin pattern)
    assert(recall >= 0.55, f"recall@3 $recall%.3f below the pinned floor")
    assert(recall <= 1.0)
    // every query answered with a full k list
    assert(got.groupBy(_._1).forall(_._2.length == 3))
    assert(got.map(_._1).distinct.length === 20)
    // deterministic: an independent run reproduces byte-identical rows
    val again = Similarity.nswSearch(emb, 20, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(got.toList === again.toList)
  }

  test("incremental graph merge == full rebuild, edge for edge (q206)") {
    // the top-m merge law made mechanical: stored base over the old
    // half + delta-only candidate scoring must reproduce the full
    // build EXACTLY — at several cap positions, including a tiny old
    // corpus (almost everything is delta) and a tiny batch
    val full = Similarity.nswGraph(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toList
    for (cap <- Seq(50L, 250L, 450L)) {
      val inc = Similarity.nswGraphIncremental(emb, cap).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toList
      assert(inc === full, s"cap=$cap diverged from the rebuild")
    }
    // non-vacuity: old nodes' lists DID change (some old src gained a
    // new dst — the merge path, not just concatenation)
    val gained = Similarity.nswGraph(emb).where(
      col("src") < 250L && col("dst") >= 250L).count()
    assert(gained > 0L, "no old node links to a new node — merge untested")
  }

  test("delta-bounded polish == full polish, edge for edge, at randomized split points") {
    import org.apache.spark.sql.DataFrame
    // the round-10 production path: carry stored refined/graph rows
    // outside the dirty neighborhoods, recompute only inside them —
    // must be EDGE-IDENTICAL to the full polish at ANY split, so the
    // split points are randomized (seeded) rather than hand-picked
    def canon(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toList
    val m = 8
    val u = Similarity.withNorm(emb)
    val n = emb.count()
    val fullBase = Similarity.nswBase(emb, m).localCheckpoint(true)
    val fullRefined = Similarity.nswDescend(u, fullBase, m).localCheckpoint(true)
    val fullGraph = canon(Similarity.nswSymmetrize(fullRefined, m))
    val rnd = new scala.util.Random(421)
    val caps = Seq.fill(3)(40L + rnd.nextInt((n - 80).toInt).toLong)
    for (cap <- caps) {
      val old = emb.where(col("vec_id") < cap)
      val baseOld = Similarity.nswBase(old, m).localCheckpoint(true)
      val refinedOld = Similarity.nswDescend(
        Similarity.withNorm(old), baseOld, m).localCheckpoint(true)
      val graphOld = Similarity.nswSymmetrize(refinedOld, m)
        .localCheckpoint(true)
      // the GraphStore.update algebra over in-memory relations
      val deltaScored = Similarity.nswDeltaScored(emb, cap)
        .localCheckpoint(true)
      val touched = deltaScored.select("src").distinct().localCheckpoint(true)
      val mergedDirty = Similarity.nswTopPerSrc(
        baseOld.join(touched, Seq("src"), "left_semi")
          .unionByName(deltaScored.select("src", "dst", "cos6"))
          .dropDuplicates("src", "dst"), m)
      val baseNew = baseOld.join(touched, Seq("src"), "left_anti")
        .unionByName(mergedDirty)
      // non-vacuity both ways: rows are really carried AND really dirty
      assert(baseOld.join(touched, Seq("src"), "left_anti").count() > 0L,
        s"cap=$cap: every src touched — carry-over untested")
      // `touched` here is the COARSE bound (every delta src) — a big
      // superset of the changed set, which the polish must absorb
      // (supersets are safe; the stored m-th-edge rule in
      // GraphStore.update is the exact production bound)
      val (refinedNew, graphNew) = Similarity.nswPolishDelta(
        emb, baseNew, touched, refinedOld, graphOld, m)
      assert(canon(baseNew) === canon(fullBase),
        s"cap=$cap: merged base diverged from the rebuild")
      assert(canon(refinedNew) === canon(fullRefined),
        s"cap=$cap: delta-bounded descend diverged from the rebuild")
      assert(canon(graphNew) === fullGraph,
        s"cap=$cap: delta-bounded polish diverged from the rebuild")
      assert(canon(graphOld) !== fullGraph,
        s"cap=$cap: old graph already equals the full one — vacuous split")
    }
  }

  test("q206 law survives an artifact-primed memo (union-partitioning regression)") {
    // REGRESSION for a WRONG-RESULTS Spark 4.1 hazard found in-round:
    // with the default spark.sql.unionOutputPartitioning=true, priming
    // the NSW scored memo through the ARTIFACT path (a parquet-backed
    // leaf instead of the fresh-computed one) flipped the twoHop join
    // to broadcast, the union's co-partitioning CLAIM then propagated
    // up the aggregate/join tower, and the refine window's shuffle was
    // elided over partitions that were not actually key-aligned —
    // nswGraph silently returned a DIFFERENT (wrong) graph while the
    // incremental path's dropDuplicates happened to mask it. The
    // library pins the conf off in every session it builds; this test
    // pins BOTH the conf and the scenario end to end.
    assert(spark.conf.get("spark.sql.unionOutputPartitioning") === "false",
      "library sessions must disable the union partitioning claim")
    def run() = Similarity.nswGraph(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toList
    Memos.clearAll()
    val clean = run()
    // prime the memo through the artifact store exactly as a restarted
    // pipeline would, then recompute over the primed (parquet-leaf) memo
    Memos.clearAll()
    val dir = java.nio.file.Files.createTempDirectory("nsw_reg").toString
    spark.conf.set("spark.graft.artifactDir", dir)
    try Similarity.nswGraph(
      spark.read.parquet(s"$testdataDir/embeddings.parquet")).count()
    finally spark.conf.unset("spark.graft.artifactDir")
    val primed = run()
    val inc = Similarity.nswGraphIncremental(emb, 250L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toList
    assert(primed === clean,
      "artifact-primed rebuild diverged from the fresh build")
    assert(inc === clean, "incremental diverged over the primed memo")
    Memos.clearAll()
  }

  test("beam search navigates beyond the entry set (the graph earns its keep)") {
    // with rounds = 0 the search can only rank the fixed entry nodes;
    // with rounds > 0 it must strictly improve — otherwise the edge
    // expansion is dead code and recall came from lucky entries
    val exact = Similarity.cosineTopK(emb, 20, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallAt(rounds: Int): Double = {
      val pairs = Similarity.nswSearch(emb, 20, 3, rounds = rounds).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      pairs.intersect(exact).size.toDouble / exact.size
    }
    val r0 = recallAt(0)
    val r3 = recallAt(3)
    info(f"recall rounds=0: $r0%.3f, rounds=3: $r3%.3f")
    assert(r3 > r0, "expansion rounds did not improve over the entry set")
  }
}
