package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{DotProductDouble, Hashing, LshBucket}
import graft.tools.Memos

/** Similarity search over the `embeddings` table (ARRAY<FLOAT>, dim 64)
  * — LLM-pipeline extension (SURVEY §2.B last row).
  *
  * All vector math is the codegen'd `DotProductDouble` expression over
  * f64 arrays: no UDF, no interpreted higher-order function in any hot
  * path (the round-1 zip_with/aggregate fold was the suite's single
  * biggest scale-killer — an interpreted boxing lambda per element per
  * candidate pair). Accumulation is the same left-to-right fold, so
  * Spark and DuckDB still produce bit-identical doubles.
  */
object Similarity {

  /** Cast ARRAY<FLOAT> → ARRAY<DOUBLE> so all accumulation is in f64. */
  private[graft] def asDouble(c: Column): Column =
    transform(c, x => x.cast("double"))

  /** Dot product — codegen'd primitive loop (DotProductDouble); the
    * left-fold order matches DuckDB's list_reduce, so the result is
    * bit-identical. */
  private[graft] def dot(a: Column, b: Column): Column =
    DotProductDouble(a, b)

  private[operators] def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** (vec_id, v, nrm) — the norm is computed ONCE per vector here, not
    * per candidate pair (an O(pairs·dim) → O(n·dim) saving; the pair
    * stage then does a single dot per pair). Same fold, same doubles. */
  private[graft] def withNorm(embeddings: DataFrame): DataFrame =
    embeddings
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))

  /** q19 — exact top-k cosine neighbors for a bounded query set
    * (vec_id < nQueries) against the full corpus: the brute-force
    * baseline every ANN variant is validated against. The query side is
    * tiny and broadcast, so the "join" is a map-side nested loop over
    * the corpus — one pass, no shuffle of the big side; ranking is a
    * per-query top-k window. Ranking key is cosine rounded to 6 dp
    * (descending, vec_b tiebreak) so rank order is robust to last-ulp
    * float drift. */
  def cosineTopK(embeddings: DataFrame, nQueries: Int, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = withNorm(embeddings)
    val q = e.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("vec_a"), col("v").as("va"), col("nrm").as("nrm_a"))
    val c = e.select(col("vec_id").as("vec_b"), col("v").as("vb"), col("nrm").as("nrm_b"))
    val w = Window.partitionBy(col("vec_a"))
      .orderBy(col("cos6").desc, col("vec_b").asc)
    broadcast(q).join(c, col("vec_a") =!= col("vec_b"))
      .withColumn("cos", dot(col("va"), col("vb")) / (col("nrm_a") * col("nrm_b")))
      .withColumn("cos6", round(col("cos"), 6))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= k)
      .select(col("vec_a"), col("vec_b"), round(col("cos"), 2).as("cos_sim"), col("rnk"))
      .orderBy("vec_a", "rnk", "vec_b")
  }

  /** q25 — embedding-cosine near-duplicate pairs over a bounded
    * candidate set (the exact baseline; `lshAnn` is the scale path —
    * at 100 TB you bucket first and only compare within buckets).
    * Cosine ships unrounded: identical fold order → bit-identical. */
  def embedNearDup(embeddings: DataFrame, cap: Long, threshold: Double): DataFrame = {
    val e = withNorm(embeddings.where(col("vec_id") < cap))
    val a = e.select(col("vec_id").as("vec_a"), col("v").as("va"), col("nrm").as("nrm_a"))
    val b = e.select(col("vec_id").as("vec_b"), col("v").as("vb"), col("nrm").as("nrm_b"))
    a.join(b, col("vec_a") < col("vec_b"))
      .withColumn("cos", dot(col("va"), col("vb")) / (col("nrm_a") * col("nrm_b")))
      .where(col("cos") >= threshold)
      .select("vec_a", "vec_b", "cos")
      .orderBy("vec_a", "vec_b")
  }

  /** Sign-bit bucket id from Hashing's deterministic hyperplane
    * lattice: bit p = sign(Σ_d w(p,d)·v_d), one codegen'd
    * `LshBucket` kernel per family (the q205 oracle generator mirrors
    * the same plane-range parameterization). `dim` must match the
    * embedding width — a mismatch folds a prefix of the vector. */
  private[operators] def lshBucket(v: Column, dim: Int): Column =
    LshBucket(v, 0, Hashing.NumPlanes, dim)

  /** A second independent hyperplane family: `Hashing.planeWeight`'s
    * lattice repeats with period 17 in the plane index, so planes
    * 8–15 are genuinely distinct from q26's 0–7 (and a third family
    * would start aliasing — two is the safe maximum on this lattice).
    */
  private def lshBucket2(v: Column, dim: Int): Column =
    LshBucket(v, Hashing.NumPlanes, 2 * Hashing.NumPlanes, dim)

  /** Graph-based ANN (round-7 "What's missing" #4): a deterministic
    * single-layer NAVIGABLE-SMALL-WORLD graph (Malkov et al.'s NSW —
    * the flat ancestor of HNSW, the right fit for a BATCH engine where
    * per-query latency hierarchies buy nothing but graph build cost).
    *
    * Build — all relational, nothing all-pairs:
    *  - LOCAL candidate links from TWO independent LSH families'
    *    cell self-joins (multi-probe in family space — a true
    *    neighbor missed by one sign pattern is usually caught by the
    *    other; bounded occupancy, the q26 capacity lever);
    *  - LONG-RANGE candidates from `longLinks` hash-derived ids per
    *    node (`xxhash64(src, j) mod n` — the deterministic stand-in
    *    for NSW's random insertion order, giving the graph its
    *    small-world shortcuts);
    *  - the `m` best-by-cosine per node, then ONE NN-DESCENT
    *    refinement round (Dong et al.: a neighbor of my neighbor is a
    *    candidate neighbor — one self-join of the bounded base graph)
    *    and re-selection;
    *  - SYMMETRIZE for navigability, then RE-PRUNE to 2m — the hard
    *    degree bound (the HNSW pruning rule; a hub keeps only its
    *    best 2m in-links, trading strict symmetry — NswSpec pins the
    *    bound, ≥50% bidirectionality, and recall).
    * Edge count is n·(≤2m): linear in the corpus, built with bucket
    * joins + windows — never a distance matrix. */
  private[graft] def nswTopPerSrc(scored: DataFrame, lim: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    scored
      .withColumn("rnk", row_number().over(
        Window.partitionBy("src").orderBy(col("cos6").desc, col("dst").asc)))
      .where(col("rnk") <= lim)
      .select("src", "dst", "cos6")
  }

  private[graft] def nswScore(u: DataFrame, cand: DataFrame): DataFrame = cand
    .join(u.select(col("vec_id").as("src"), col("v").as("vs"),
      col("nrm").as("ns")), "src")
    .join(u.select(col("vec_id").as("dst"), col("v").as("vd"),
      col("nrm").as("nd")), "dst")
    .withColumn("cos6",
      round(dot(col("vs"), col("vd")) / (col("ns") * col("nd")), 6))
    .select("src", "dst", "cos6")

  /** The raw candidate PAIR relation for one node set: both bucket
    * families' self-joins + the polyHash long links. `newCap` (the
    * incremental path) keeps only pairs with ≥1 endpoint ≥ cap —
    * PUSHED INTO THE JOINS, not filtered after them: "≥1 new endpoint"
    * is new×all ∪ old×new, so each self-join gets a delta-sized side
    * and the join itself prices the batch (a post-join `src ≥ c OR
    * dst ≥ c` filter cannot be pushed below either input and would
    * compute every old×old bucket pair only to drop it — at 100 TB
    * that IS the full build's join cost paid daily). Long links of an
    * old src point only at older ids (mod-src), so the delta far set
    * is simply the new srcs' links. */
  private def nswCandidates(embeddings: DataFrame, longLinks: Int,
      newCap: Option[Long]): DataFrame = {
    val u = withNorm(embeddings)
    val b1 = lshBucketed(embeddings).select(col("vec_id"), col("bucket"))
    val b2 = u.select(col("vec_id"), lshBucket2(col("v"), 64).as("bucket"))
    def pairsOf(a: DataFrame, b: DataFrame): DataFrame = a.alias("a")
      .join(b.alias("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("src"), col("b.vec_id").as("dst"))
    def bucketPairs(b: DataFrame): DataFrame = newCap match {
      case None => pairsOf(b, b)
      case Some(c) =>
        val bNew = b.where(col("vec_id") >= c)
        pairsOf(bNew, b)
          .unionByName(pairsOf(b.where(col("vec_id") < c), bNew))
    }
    // long links via polyHash (NOT xxhash64): the cross-engine hash,
    // so the whole BUILD is oracle-replayable (q205) — and mod SRC,
    // not mod corpus-size: each node links only to EARLIER ids (the
    // insertion-order semantics of real NSW), which makes every
    // node's link set GROWTH-STABLE — the property the incremental
    // merge (q206) rests on (a `mod n` rule would re-link the whole
    // corpus every time n grows)
    val far = embeddings.select(col("vec_id").as("src"))
      .where(newCap.map(c => col("vec_id") >= c).getOrElse(lit(true)))
      .where(col("src") > 0)
      .select(col("src"), explode(array((0 until longLinks).map(j =>
        pmod(graft.functions.TextFns.polyHash(
          concat(lit(s"nsw$j:"), col("src").cast("string"))), col("src"))): _*))
        .as("dst"))
      .where(col("src") =!= col("dst"))
    bucketPairs(b1).unionByName(bucketPairs(b2)).unionByName(far)
      .distinct()
  }

  /** Session memo of the FULL-corpus scored candidate relation — the
    * dominant cost of every NSW entry point (q205 full build, q206
    * incremental, the q205 search's fresh build), built ONCE per
    * (session, corpus plan, file state, longLinks) and consumed by all
    * of them. q206's split rides the q202 shared-pass argument:
    * every candidate generator is PER-NODE (both LSH bucket functions
    * hash the node's own vector; long links are polyHash mod SRC), so
    * restricting the full scored relation by endpoint cap reproduces
    * EXACTLY the separate old-corpus and delta passes — restriction ≡
    * separate passes, re-verified by the shared oracle's hash gate.
    * Checkpointed WIDE ([[Memos.checkpointWide]]): AQE coalesces the
    * small build to ~1 partition and every downstream window/join
    * would inherit it. */
  private def nswScoredAll(embeddings: DataFrame, longLinks: Int): DataFrame = {
    def fresh = nswScore(withNorm(embeddings),
      nswCandidates(embeddings, longLinks, None))
    // artifact-backed like every memo family (sketches, sigs, prints,
    // PQ, BPE): with spark.graft.artifactDir set, a RESTARTED session
    // loads the scored relation instead of re-scoring the corpus
    Memos.get("nswScored", embeddings, longLinks)(
      Memos.checkpointWide(graft.sources.ArtifactStore.loadOrBuild(
          "nsw_scored", embeddings, s"ll$longLinks")(fresh)))(fresh)
  }

  /** The scored top-m base graph — the artifact the incremental path
    * stores and merges (production keeps it beside the final graph,
    * the way HNSW retains its insertion state). */
  private[graft] def nswBase(embeddings: DataFrame, m: Int = 8,
      longLinks: Int = 4): DataFrame =
    nswTopPerSrc(nswScoredAll(embeddings, longLinks), m)

  /** The build's polish tail over a base graph: ONE NN-descent
    * refinement round (Dong et al.: a neighbor of my neighbor is a
    * candidate neighbor — one self-join of the m-bounded base, ≤ m²
    * candidates per node), then symmetrize for navigability and
    * RE-PRUNE to 2m (the HNSW degree rule — an in-demand hub keeps
    * its best 2m, trading strict symmetry). Linear in the edge set. */
  private def nswRefine(u: DataFrame, base: DataFrame, m: Int): DataFrame =
    nswSymmetrize(nswDescend(u, base, m), m)

  /** Polish stage 1 — ONE NN-descent round over a base: per src,
    * re-select the top m among its base edges ∪ two-hop candidates.
    * Split out of [[nswRefine]] so the store can PERSIST the refined
    * relation (`<name>_refined`): the delta-bounded polish carries
    * unchanged refined rows over instead of recomputing them, which
    * needs yesterday's refined relation to exist (the prune in stage 2
    * is lossy, so it cannot be recovered from the final graph). */
  private[graft] def nswDescend(u: DataFrame, base: DataFrame,
      m: Int): DataFrame = {
    val twoHop = base.alias("a")
      .join(base.alias("b"), col("a.dst") === col("b.src"))
      .select(col("a.src").as("src"), col("b.dst").as("dst"))
      .where(col("src") =!= col("dst"))
    nswTopPerSrc(nswScore(u,
      base.select("src", "dst").unionByName(twoHop).distinct()), m)
  }

  /** Polish stage 2 — symmetrize for navigability, then RE-PRUNE to
    * the hard 2m degree bound (per src: top 2m among its refined
    * out-edges ∪ reversed in-edges). */
  private[graft] def nswSymmetrize(refined: DataFrame, m: Int): DataFrame =
    nswTopPerSrc(
      refined.unionByName(refined.select(col("dst").as("src"),
        col("src").as("dst"), col("cos6"))).distinct(),
      2 * m)

  def nswGraph(embeddings: DataFrame, m: Int = 8,
      longLinks: Int = 4): DataFrame =
    nswRefine(withNorm(embeddings), nswBase(embeddings, m, longLinks), m)

  /** q206 — INCREMENTAL maintenance of the ANN graph: merge ≡ rebuild
    * for the NSW index, completing the law across every artifact
    * family (sketches q90/q94, postings q98/q171, labels q202, PQ
    * codes `encodePq`, and now the graph). The stored base relation
    * (`nswBase` over yesterday's corpus — computed in-query as the
    * stand-in, the q202 convention) merges with the DELTA candidates
    * only: every candidate pair involving a new node (new×new and
    * new×old bucket pairs from both families + the new nodes' long
    * links — old nodes' links are growth-stable by the mod-src rule,
    * and no old link can point at a new id). Exactness is the top-m
    * MERGE LAW: top-m(A ∪ B) = top-m(top-m(A) ∪ B) under the
    * deterministic (cos6 desc, dst asc) order, so the merged base
    * equals the full rebuild's base EDGE FOR EDGE; the polish tail
    * (NN-descent + symmetrize + prune) then runs over the m-bounded
    * merged base — linear in edges, no corpus scoring. The expensive
    * stage — cosine scoring of raw candidates — prices ONLY the
    * delta. Oracle = q205's full-build oracle VERBATIM: the hash
    * match IS the merge ≡ rebuild proof (the q58/q202 and q26/q204
    * shared-oracle pattern, third instance). */
  def nswGraphIncremental(embeddings: DataFrame, cap: Long, m: Int = 8,
      longLinks: Int = 4): DataFrame = {
    // the in-query form computes the stored side as a stand-in (the
    // q202 oracle convention), so BOTH halves come from the ONE
    // memoized full-corpus scored pass, split by the cap (restriction
    // ≡ separate passes — see nswScoredAll): old base = pairs with
    // both endpoints old; delta = pairs with ≥1 new endpoint. The
    // PRODUCTION path (GraphStore.update → nswMergeBase) never builds
    // the old side — it reads the stored base and scores delta only.
    val scored = nswScoredAll(embeddings, longLinks)
    val baseOld = nswTopPerSrc(
      scored.where(col("src") < cap && col("dst") < cap), m)
    val merged = nswTopPerSrc(baseOld.select("src", "dst", "cos6")
      .unionByName(scored.where(col("src") >= cap || col("dst") >= cap))
      .dropDuplicates("src", "dst"), m)
    nswPolish(embeddings, merged, m)
  }

  /** The incremental MERGE step alone (the piece `GraphStore.update`
    * runs over a stored base): top-m(stored base ∪ delta-only scored
    * candidates). `dropDuplicates` on the pair key makes a RETRY of a
    * half-committed day converge — a delta pair already folded into
    * the stored base would otherwise occupy two window ranks and push
    * a real edge out of the top m (cos6 is a deterministic function
    * of the pair, so pair-key dedup is lossless). */
  /** The scored DELTA-ONLY candidate relation (every pair with ≥ 1
    * endpoint ≥ `oldCap`) — the expensive stage of a production
    * ingest, priced by the batch. */
  private[graft] def nswDeltaScored(embeddings: DataFrame, oldCap: Long,
      longLinks: Int = 4): DataFrame =
    nswScore(withNorm(embeddings),
      nswCandidates(embeddings, longLinks, Some(oldCap)))

  private[graft] def nswMergeBase(embeddings: DataFrame, storedBase: DataFrame,
      oldCap: Long, m: Int = 8, longLinks: Int = 4): DataFrame =
    nswTopPerSrc(storedBase.select("src", "dst", "cos6")
      .unionByName(nswDeltaScored(embeddings, oldCap, longLinks))
      .dropDuplicates("src", "dst"), m)

  /** DELTA-BOUNDED POLISH (round-9 verdict #1) — the production twin
    * of [[nswPolish]]: recompute NN-descent / symmetrize / prune ONLY
    * where the base actually changed, carry every other stored row
    * over untouched, and stay EDGE-IDENTICAL to the full polish (the
    * merge ≡ rebuild law extended through the polish tail — NswSpec
    * pins equality on randomized split points; BucketedStoreSpec's
    * generation ≡ rebuild rows now gate this path end to end).
    *
    * The dirty-set algebra, each step one equi-join with the small
    * side broadcastable (never a corpus reshuffle):
    *
    *  - `d1` (caller-supplied) ⊇ srcs whose base out-edges differ —
    *    GraphStore.update derives it EXACTLY from the stored m-th-edge
    *    threshold rule (a candidate enters a full top-m list iff it
    *    beats the worst kept edge's rank key); any superset is safe
    *    (extra recomputes reproduce their rows bit for bit), any
    *    underestimate is not (a carried row would go stale).
    *  - dirtyR = D1 ∪ in-neighbors of D1 in the new base: descend(src)
    *    reads base rows (src, x) and (x, d), so it changes only if
    *    src's own out-set changed or some out-neighbor x's did.
    *  - D2 = srcs whose RECOMPUTED refined rows actually differ from
    *    the stored ones — most dirtyR recomputes reproduce their rows
    *    bit for bit (a new candidate rarely beats a node's m-th
    *    neighbor), and diffing here is what collapses the polish wave
    *    to the genuinely moved neighborhoods.
    *  - dirtyP = D2 ∪ out-neighbors of D2 under old OR new refined:
    *    symmetrize(src) reads refined-out(src) and reversed in-edges,
    *    so a row at src moves only if src ∈ D2 or an edge into src
    *    from some s ∈ D2 appeared/vanished/rescored.
    *
    * Cost ∝ |dirty neighborhoods|·m², against the full polish's
    * n·m² — the gap STOREBENCH prices at the 99/1 split. cos6 is a
    * deterministic function of the pair (and parquet round-trips
    * doubles exactly), so carried rows and recomputed rows can never
    * disagree on equal pairs. */
  private[graft] def nswPolishDelta(embeddings: DataFrame,
      baseNew: DataFrame, d1: DataFrame,
      refinedOld: DataFrame, graphOld: DataFrame,
      m: Int = 8): (DataFrame, DataFrame) = {
    val u = withNorm(embeddings)
    // Each dirty set is tiny and multiply consumed: eager-checkpoint
    // it as a HANDFUL of partitions (a 32-partition localCheckpoint of
    // a 200-row set pays 32 blocks of bookkeeping per step). Lazy
    // plan-audit mode parks the plans.
    //
    // A fully LAZY (persist-marked) chain was built and MEASURED in
    // round 11 and REJECTED: each dirty set is referenced ~3× per
    // consumer level, and Spark's tree-walking planner expands the
    // shared DAG multiplicatively — the probe counted 13,715
    // TableCacheQueryStage references in ONE update's executed plan,
    // task work DOUBLED (463 vs 170 tasks, 18–22 s vs 8.5 s task
    // time), and wall clock went 4.1 s → 7 s at sf0.1. The small-scale
    // fusion win lives in GraphStore's full-polish fallback (linear
    // nesting, safe to lazy-persist); this delta algebra is the
    // ≥floor path, where its eager rounds are noise against the
    // corpus-sized polish it skips.
    val eager = Dedup.eagerMaterialize(embeddings)
    def leaf(df: DataFrame): DataFrame =
      if (eager) df.coalesce(4).localCheckpoint(true) else df
    def leafRel(df: DataFrame): DataFrame = leaf(df)
    def edgesOf(df: DataFrame) = df.select("src", "dst", "cos6")
    // symmetric difference as ONE full-outer join on the exact edge
    // key (pair rows are unique per (src, dst); cos6 is deterministic,
    // so double equality is bit equality) — not a union of two
    // exceptAlls, whose shared-input children trip Union constraint
    // rewriting and would scan both sides twice anyway
    def srcsOfDiff(a: DataFrame, b: DataFrame): DataFrame =
      edgesOf(a).withColumn("ka", lit(1))
        .join(edgesOf(b).withColumn("kb", lit(1)),
          Seq("src", "dst", "cos6"), "full_outer")
        .where(col("ka").isNull || col("kb").isNull)
        .select("src").distinct()
    val dirtyR = leaf(d1.unionByName(
        baseNew.join(d1.select(col("src").as("dst")), "dst").select("src"))
      .distinct())
    val baseDirty = baseNew.join(dirtyR, Seq("src"), "left_semi")
    val twoHop = baseDirty.alias("a")
      .join(baseNew.alias("b"), col("a.dst") === col("b.src"))
      .select(col("a.src").as("src"), col("b.dst").as("dst"))
      .where(col("src") =!= col("dst"))
    val refinedDirty = leafRel(nswTopPerSrc(nswScore(u,
      baseDirty.select("src", "dst").unionByName(twoHop).distinct()), m))
    // carried rows come off the bucketed stored table via a broadcast
    // anti join — map-side, never materialized corpus-wide here (the
    // commit's own freeze pays that linear write once)
    val refinedNew = edgesOf(refinedOld)
      .join(dirtyR, Seq("src"), "left_anti")
      .unionByName(refinedDirty)
    val refinedOldDirty = edgesOf(refinedOld)
      .join(dirtyR, Seq("src"), "left_semi")
    val d2 = leaf(srcsOfDiff(refinedOldDirty, refinedDirty))
    val dirtyP = leaf(d2
      .unionByName(refinedOldDirty.join(d2, Seq("src"), "left_semi")
        .select(col("dst").as("src")))
      .unionByName(refinedDirty.join(d2, Seq("src"), "left_semi")
        .select(col("dst").as("src")))
      .distinct())
    val contrib = refinedNew.join(dirtyP, Seq("src"), "left_semi")
      .unionByName(refinedNew
        .select(col("dst").as("src"), col("src").as("dst"), col("cos6"))
        .join(dirtyP, Seq("src"), "left_semi"))
    val graphDirty = nswTopPerSrc(contrib.distinct(), 2 * m)
    val graphNew = edgesOf(graphOld)
      .join(dirtyP, Seq("src"), "left_anti")
      .unionByName(graphDirty)
    (refinedNew, graphNew)
  }

  /** The polish tail over an m-bounded base, public face for the
    * store cycle (NN-descent + symmetrize + 2m prune — linear in the
    * edge set, no raw-candidate scoring). */
  private[graft] def nswPolish(embeddings: DataFrame, base: DataFrame,
      m: Int = 8): DataFrame =
    nswRefine(withNorm(embeddings), base, m)

  /** q264 — embedding NORM health audit: p50/p95 of the vector L2
    * norms through q257's exponent-bucketed float-quantile machine —
    * the first number read before trusting ANY cosine downstream
    * (collapsed norms mean dead vectors; a heavy near-zero tail makes
    * cosine denominators explode; a bimodal norm profile usually
    * means two different encoders wrote one table). Pure composition:
    * the shared fold-exact norm (`withNorm` — the q19 convention, so
    * the oracle replays the identical doubles) feeds
    * `Relational.floatQuantiles` unchanged; one linear pass, the
    * bounded bucket histogram, no corpus sort — and because the
    * histogram is the q257 additive state, the same audit runs ONLINE
    * over streamed embedding batches via `EventStreams.floatHistSink`
    * for free. */
  def normQuantiles(embeddings: DataFrame): DataFrame =
    graft.operators.Relational.floatQuantiles(
      withNorm(embeddings).select(col("nrm")), "nrm")

  /** q205 — the NSW graph BUILD as an oracle-gated relation (the
    * SEARCH stays spec-gated — a beam search has no DuckDB replay,
    * but the build is pure relational algebra: bucket joins, the
    * mirrored polyHash long links, windows, one self-join — so the
    * whole graph is hash-gated cross-engine, edge for edge). */
  def nswGraphQuery(embeddings: DataFrame, m: Int = 8,
      longLinks: Int = 4): DataFrame =
    nswGraph(embeddings, m, longLinks)
      .orderBy(col("src"), col("cos6").desc, col("dst"))

  /** GREEDY BEAM SEARCH over the NSW graph — the probe. Every query
    * starts from the SAME deterministic entry set (the `beam`
    * smallest hash-ranked node ids — the fixed-entry convention that
    * replaces HNSW's top-layer descent) and expands `rounds` times:
    * frontier ⋈ edges → score the neighbors against the query vector
    * → keep the best `beam` per query. All per-round work is
    * equi-joins keyed on node id — cost ∝ frontier·degree, NEVER the
    * corpus — with the per-round localCheckpoint lineage discipline
    * of the CC loops (fixed round count: no data-dependent driver
    * reads at all, unlike CC's convergence probe). Output matches the
    * q19/q26 shape; NswSpec pins recall against the exact q19
    * baseline, determinism, and the degree bound. */
  def nswSearch(embeddings: DataFrame, nQueries: Int, k: Int,
      beam: Int = 12, rounds: Int = 4, m: Int = 8): DataFrame = {
    // the graph is the ITERATIVE loop's constant — materialize once
    // (a STORED graph is already a table-scan leaf and goes through
    // nswSearchOver untouched, keeping its bucketed layout)
    val fresh = nswGraph(embeddings, m).select("src", "dst")
    val edges = if (Dedup.eagerMaterialize(embeddings))
      fresh.localCheckpoint(true) else fresh
    nswSearchOver(embeddings, edges, nQueries, k, beam, rounds)
  }

  /** The beam search over a CALLER-SUPPLIED edge relation — the probe
    * a stored graph serves (`GraphStore.load` hands its bucketed
    * graph table here: the loop's per-round frontier ⋈ edges join
    * then consumes the stored side exchange-free, so probe cost is
    * ∝ frontier·degree with the graph never reshuffled). */
  def nswSearchOver(embeddings: DataFrame, graphEdges: DataFrame,
      nQueries: Int, k: Int, beam: Int = 12, rounds: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val eager = Dedup.eagerMaterialize(embeddings)
    def leaf(df: DataFrame): DataFrame =
      if (eager) df.localCheckpoint(true) else df
    val edges = graphEdges.select("src", "dst")
    val u = withNorm(embeddings)
    val queries = broadcast(u.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn")))
    val entries = broadcast(u.select(col("vec_id").as("node"))
      .withColumn("hr", xxhash64(col("node"), lit(7L)))
      .orderBy(col("hr").asc, col("node").asc).limit(beam)
      .select("node"))
    def score(cand: DataFrame): DataFrame = cand
      .join(u.select(col("vec_id").as("node"), col("v").as("nv"),
        col("nrm").as("nn")), "node")
      .join(queries, "qid")
      .withColumn("cos6",
        round(dot(col("qv"), col("nv")) / (col("qn") * col("nn")), 6))
      .select("qid", "node", "cos6")
    def prune(frontier: DataFrame): DataFrame = frontier
      .withColumn("rnk", row_number().over(
        Window.partitionBy("qid").orderBy(col("cos6").desc, col("node").asc)))
      .where(col("rnk") <= beam)
      .select("qid", "node", "cos6")
    var best = leaf(prune(score(
      queries.select("qid").crossJoin(entries))))
    for (_ <- 1 to rounds) {
      val neigh = best.select(col("qid"), col("node").as("src"))
        .join(edges, "src")
        .select(col("qid"), col("dst").as("node"))
        .distinct()
      best = leaf(prune(
        best.unionByName(score(neigh)).dropDuplicates("qid", "node")))
    }
    best.where(col("qid") =!= col("node"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("qid").orderBy(col("cos6").desc, col("node").asc))
        .cast("long"))
      .where(col("rnk") <= k)
      .select(col("qid").as("vec_a"), col("node").as("vec_b"),
        col("cos6").as("cos_sim"), col("rnk"))
      .orderBy("vec_a", "rnk", "vec_b")
  }

  /** (vec_id, v, bucket) over the raw embeddings — THE cell
    * assignment the stored vector artifact and every probe share
    * (`VectorStore.saveLshBinary` writes it; `lshAnnStored` probes
    * it). One definition, so a stored bucket can never drift from a
    * freshly computed one — the minhashSigCols rule for the vector
    * family. */
  private[graft] def lshBucketed(embeddings: DataFrame,
      dim: Int = 64): DataFrame =
    embeddings
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("bucket", lshBucket(col("v"), dim))

  /** q204 — q26's ANN probe served FROM the stored `graft-vectors`
    * artifact: the candidate side is the DSv2 table (cell-pruned scan)
    * instead of the in-query bucket projection; queries keep their
    * parquet-side full-precision vectors. Semantics are IDENTICAL to
    * q26 — same bucket formula, same norm fold, same scoring and
    * ranking — so the two queries share ONE oracle text (the q58/q202
    * shared-oracle pattern), and the hash match proves the whole
    * write → binary store → pruned scan → score chain.
    *
    * Scale shape: the query side is `nQueries` rows, broadcast; the
    * stored side's scan is RUNTIME-pruned to the queries' buckets
    * (`SupportsRuntimeFiltering` — the q168 dynamic-file-pruning
    * story), so the probe reads only the probed cells' files, never
    * the corpus. VectorSourceSpec pins the opened-file count. */
  def lshAnnStored(embeddings: DataFrame, stored: DataFrame, nQueries: Int,
      k: Int, dim: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = withNorm(embeddings).withColumn("bucket", lshBucket(col("v"), dim))
      .where(col("vec_id") < nQueries)
      .select(col("vec_id").as("vec_a"), col("v").as("va"),
        col("nrm").as("nrm_a"), col("bucket"))
    val c = stored
      .select(col("vec_id").as("vec_b"), col("v").as("vb"), col("bucket"))
      .withColumn("nrm_b", sqrt(dot(col("vb"), col("vb"))))
    val w = Window.partitionBy(col("vec_a"))
      .orderBy(col("cos6").desc, col("vec_b").asc)
    // one exchange to a single partition serves both the per-query
    // window and the final order: the candidates of a bounded query set
    // are few (each query meets one bucket), so after the candidate
    // stage (scan, join, cosine — every split) the rest is one task.
    // A hash exchange for the window plus a range exchange for the sort
    // cost three jobs; a range exchange alone samples — re-reads — the
    // candidate stage.
    broadcast(q).join(c, Seq("bucket"))
      .where(col("vec_a") =!= col("vec_b"))
      .withColumn("cos", dot(col("va"), col("vb")) / (col("nrm_a") * col("nrm_b")))
      .withColumn("cos6", round(col("cos"), 6))
      .repartition(1)
      .withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= k)
      .select(col("vec_a"), col("vec_b"), col("bucket"),
        round(col("cos"), 2).as("cos_sim"), col("rnk"))
      .orderBy("vec_a", "rnk", "vec_b")
  }

  /** q43 — IVF-style approximate nearest neighbors: the other classic
    * ANN scale path beside `lshAnn`. A FIXED-SIZE coarse codebook —
    * `numCents` vectors picked by a deterministic hash-ordered sample
    * (top-k by polyHash of the vec id: an unbiased pseudo-random draw
    * both engines reproduce; a real pipeline would plug k-means
    * centroids in here, which changes nothing in the plan) — is
    * BROADCAST; its size is a PARAMETER, independent of corpus size
    * (round-2 verdict: the previous every-50th-vector codebook grew
    * O(n) and made assignment O(n²/50)). One corpus scan assigns every
    * vector to its nearest centroid cell (argmax cosine, 6-dp rounded
    * with centroid-id tiebreak so both engines pick the same cell);
    * queries probe their `nprobe` NEAREST cells — the standard
    * FAISS-style recall lever — while corpus vectors live in exactly
    * one cell, so each candidate pair still appears at most once and
    * the probe stays an equi hash join on `cell`, never a cross
    * product. At 1000 executors the assignment is map-side (bounded
    * codebook broadcast) and the probe shuffles ~nprobe·n/numCents
    * rows per query cell: the inverted-file locality FAISS IVF
    * exploits. */
  def ivfAnn(embeddings: DataFrame, nQueries: Int, k: Int,
      numCents: Int = 32, nprobe: Int = 2, iters: Int = 0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = withNorm(embeddings)
    // iters = 0: the deterministic hash-ordered seed codebook (bounded
    // TakeOrdered, one pass — NOT a full sort). iters > 0: the
    // q92-trained Lloyd codebook plugs in (q102) — tighter cells, same
    // probe plan; `trainCents` itself returns the seed at iters = 0,
    // so one call covers both. Round 14: eager mode reads the
    // session-memoized codebook (one training shared with
    // q92/q270/q93/q107); lazy keeps the in-plan training tower.
    val cents =
      if (Dedup.eagerMaterialize(embeddings))
        trainedCents(embeddings, iters, numCents)
      else trainCents(e, iters, numCents)
    val wAssign = Window.partitionBy(col("vec_id"))
      .orderBy(col("ccos6").desc, col("cent_id").asc)
    // persisted: the ranked assignment feeds both the corpus branch
    // (crnk=1: home cell) and the query branch (crnk<=nprobe: probe
    // cells), and the filters specialize each subtree beyond exchange
    // reuse. At most nprobe rows per vector — bounded like the q22
    // fused relation. Lifecycle: the tiny top-k result is eagerly
    // materialized below, then this cache is RELEASED before returning
    // (round-2 verdict #6 — no persist outlives its consuming action).
    val ranked = e.crossJoin(broadcast(cents))
      .withColumn("ccos6",
        round(dot(col("v"), col("cv")) / (col("nrm") * col("cnrm")), 6))
      .withColumn("crnk", row_number().over(wAssign))
      .where(col("crnk") <= math.max(1, nprobe))
      .select(col("vec_id"), col("v"), col("nrm"), col("cent_id").as("cell"), col("crnk"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val q = ranked.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("vec_a"), col("v").as("va"), col("nrm").as("nrm_a"), col("cell"))
    val c = ranked.where(col("crnk") === 1)
      .select(col("vec_id").as("vec_b"), col("v").as("vb"), col("nrm").as("nrm_b"), col("cell"))
    val w = Window.partitionBy(col("vec_a"))
      .orderBy(col("cos6").desc, col("vec_b").asc)
    val result = broadcast(q).join(c, Seq("cell"))
      .where(col("vec_a") =!= col("vec_b"))
      .withColumn("cos", dot(col("va"), col("vb")) / (col("nrm_a") * col("nrm_b")))
      .withColumn("cos6", round(col("cos"), 6))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= k)
      .select(col("vec_a"), col("vec_b"), col("cell"), round(col("cos"), 2).as("cos_sim"), col("rnk"))
      .orderBy("vec_a", "rnk", "vec_b")
    // k rows per query — eager checkpoint bounds driver-side cost and
    // lets the assignment cache be freed deterministically (disable via
    // spark.graft.eagerMaterialize=false for plan inspection; the cache
    // then follows the session — see Dedup.eagerMaterialize)
    Dedup.finishWith(result, ranked)
  }

  /** One Lloyd assignment step: every vector → its argmax-cosine cell
    * against a broadcast centroid frame (6-dp rounded with cent_id
    * tiebreak — the q43 cross-engine determinism rule). Shape: the
    * bounded-codebook cross join is a broadcast nested loop (the
    * q19/q43 class), and the argmax is the q64 `max(struct)`
    * formulation — map-side partial aggregation collapses the 32
    * candidate rows per vector BEFORE the shuffle and no group is
    * ever sorted (a window row_number here would shuffle and sort
    * codebook×corpus rows). Tiebreak: struct max on (ccos6,
    * −cent_id) picks the highest cosine, then the LOWEST cent_id —
    * identical to the oracle's row_number ordering. */
  private def assignCells(e: DataFrame, cents: DataFrame): DataFrame =
    e.crossJoin(broadcast(cents))
      .withColumn("ccos6",
        round(dot(col("v"), col("cv")) / (col("nrm") * col("cnrm")), 6))
      .groupBy("vec_id")
      .agg(max(struct(col("ccos6"), (-col("cent_id")).as("ncell"),
        col("v"), col("nrm"))).as("best"))
      .select(col("vec_id"), col("best.v").as("v"), col("best.nrm").as("nrm"),
        (-col("best.ncell")).as("cell"), col("best.ccos6").as("ccos6"))

  /** q92 — the k-means-TRAINED IVF codebook (q43's documented plug-in,
    * VERDICT r3 stretch #7): `iters` Lloyd rounds as pure DataFrame
    * aggregations, then the final cell assignment. Output is the
    * per-vector assignment relation an IVF index stores: (vec_id,
    * cell, cosine to its trained centroid).
    *
    * Cross-engine determinism, the whole trick: the centroid UPDATE
    * routes through floor-quantized integer dimension sums
    * (`sum(floor(x·10⁶))` per (cell, dim) — order-independent exact
    * integers, the q65 mean_q rule) so both engines derive
    * bit-identical centroid doubles no matter how partitions reduce;
    * the ASSIGNMENT ranks by 6-dp-rounded cosine with cent_id
    * tiebreak (the q43 rule). Iteration count and the seed codebook
    * (q43's hash-ordered sample) are fixed constants shared with the
    * oracle.
    *
    * Scale shape per round: assignment is a broadcast-codebook
    * map-side pass (one window on vec_id); the update is a map-side
    * partial aggregation that collapses the corpus to numCents×dim
    * rows BEFORE the shuffle — the classic distributed-Lloyd layout.
    * Nothing corpus-sized is ever collected, broadcast, or iterated
    * on the driver; `iters` is a fixed small constant so the lazy
    * plan tree stays shallow (no checkpoint hygiene needed, unlike
    * the unbounded q49 loop). */
  /** The deterministic hash-ordered seed codebook (q43's rule) plus
    * `iters` Lloyd refinement rounds (0 = the raw seed). `e` must be
    * a withNorm frame; the caller owns its persistence. */
  private def trainCents(e: DataFrame, iters: Int, numCents: Int): DataFrame = {
    var cents = e
      .orderBy(graft.functions.TextFns.polyHash(col("vec_id").cast("string")).asc,
        col("vec_id").asc)
      .limit(numCents)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"), col("nrm").as("cnrm"))
    for (_ <- 0 until iters) {
      val assigned = assignCells(e, cents)
      // per-(cell, dim) quantized means -> reassembled centroid arrays;
      // 2048 rows for 32 cells x 64 dims, regardless of corpus size.
      // Cells that lose every member simply drop out (deterministic in
      // both engines; the remaining codebook still covers all vectors).
      cents = assigned
        .select(col("cell"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("cell", "pos")
        .agg(sum(floor(col("x") * 1e6).cast("long")).as("sq"),
          count(lit(1)).as("n"))
        .withColumn("m", col("sq").cast("double") / col("n") / 1e6)
        .groupBy("cell")
        .agg(transform(sort_array(collect_list(struct(col("pos"), col("m")))),
          s => s.getField("m")).as("cv"))
        .select(col("cell").as("cent_id"), col("cv"),
          sqrt(dot(col("cv"), col("cv"))).as("cnrm"))
    }
    cents
  }

  /** Session memo of the TRAINED coarse codebook (round-14
    * optimization): q92's assignment, q270's balance audit, and
    * q102's trained-IVF probe all train the SAME `iters`-round Lloyd
    * codebook over the same corpus (q43/q93/q107 share the iters=0
    * seed the same way) — one training per (corpus, iters, numCents),
    * the trained-PQ/PCA discipline. The leaf is numCents rows.
    * Lazy (plan-audit) mode keeps the in-query training tower. */
  private def trainedCents(embeddings: DataFrame, iters: Int,
      numCents: Int): DataFrame =
    Memos.get("cents", embeddings, (iters, numCents))({
      val e = withNorm(embeddings)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try trainCents(e, iters, numCents).localCheckpoint(true)
      finally { e.unpersist(); () }
    })(sys.error("trainedCents is eager-mode only — lazy callers keep " +
      "their own training tower"))

  /** Session memo of the trained ASSIGNMENT relation (vec_id, cell,
    * ccos6) — q92 and q270 consume exactly these three columns of the
    * same assignCells pass (q92 projects, q270 counts); the vectors
    * themselves are deliberately NOT in the leaf (consumers that need
    * them — q93's edge scoring — keep their own assignment). */
  private def assignedCellsShared(embeddings: DataFrame, iters: Int,
      numCents: Int): DataFrame =
    Memos.get("assign", embeddings, (iters, numCents))({
      val e = withNorm(embeddings)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try Memos.checkpointWide(
        assignCells(e, trainedCents(embeddings, iters, numCents))
          .select(col("vec_id"), col("cell"), col("ccos6")))
      finally { e.unpersist(); () }
    })(sys.error("assignedCellsShared is eager-mode only"))

  def kmeansAssign(embeddings: DataFrame, iters: Int = 2, numCents: Int = 32): DataFrame =
    if (Dedup.eagerMaterialize(embeddings))
      // round 14: read the shared assignment leaf (one train + one
      // assignment pass per corpus, shared with q270)
      Dedup.finishWith(assignedCellsShared(embeddings, iters, numCents)
        .select(col("vec_id"), col("cell"), round(col("ccos6"), 2).as("cos_sim"))
        .orderBy("vec_id"))
    else {
      val e = withNorm(embeddings)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val result = assignCells(e, trainCents(e, iters, numCents))
        .select(col("vec_id"), col("cell"), round(col("ccos6"), 2).as("cos_sim"))
        .orderBy("vec_id")
      Dedup.finishWith(result, e)
    }

  /** q270 — IVF CELL-BALANCE audit: the load profile of the q92
    * codebook as data. An IVF index is only as fast as its hottest
    * cell — probe cost is the probed cells' occupancy, and at 100 TB a
    * codebook whose top cell holds 20% of the corpus serves 6×
    * balanced-case latency no matter how good the centroids look on
    * recall. This emits, per trained cell: member count, corpus share
    * (micros), and the load factor vs perfect balance (1e6 = ideal;
    * the max row IS the worst-case probe multiplier) — the relation an
    * index operator reads before choosing numCents or deciding to
    * re-train. Training and assignment are EXACTLY q92's (shared
    * trainCents/assignCells — the audit can never disagree with the
    * index it audits).
    *
    * Scale shape: q92's broadcast-codebook map-side assignment, then
    * ONE map-side-combinable count per cell — the output is ≤numCents
    * rows, the one-row total rides a broadcast cross join, integer
    * micros end to end (truncating div; all terms positive). */
  def ivfCellBalance(embeddings: DataFrame, iters: Int = 2,
      numCents: Int = 32): DataFrame = {
    def fold(assigned: DataFrame): DataFrame = {
      val counts = assigned
        .groupBy(col("cell")).agg(count(lit(1)).as("n_vecs"))
      val tot = counts.agg(sum(col("n_vecs")).as("tot"))
      counts.crossJoin(broadcast(tot))
        .select(col("cell"), col("n_vecs"),
          expr("n_vecs * 1000000 div tot").as("share_micros"),
          expr(s"n_vecs * $numCents * 1000000 div tot").as("load_micros"))
        .orderBy("cell")
    }
    if (Dedup.eagerMaterialize(embeddings))
      // round 14: the audit counts the SAME shared assignment leaf q92
      // serves from — shared train + assignment, and the audit still
      // cannot disagree with the index it audits (one definition)
      Dedup.finishWith(fold(assignedCellsShared(embeddings, iters, numCents)))
    else {
      val e = withNorm(embeddings)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      Dedup.finishWith(fold(assignCells(e, trainCents(e, iters, numCents))), e)
    }
  }

  /** q210 — NEAREST-CENTROID (Rocchio / prototype) classification:
    * the SUPERVISED member of the embedding family. q92 learns cells
    * without labels; this one learns one prototype per ground-truth
    * class from the labeled seed split (vec_id % 3 ≠ 0 — the q209
    * split convention, q209's embedding-space twin) and scores the
    * WHOLE corpus: semantic labeling / domain routing of embeddings
    * at cost k·d per vector, no per-query neighbor search. Training
    * is one aggregation, so — like q209 — the oracle replays the
    * trained MODEL, not just the assignment. Honesty note: the
    * testdata's label column is geometric NOISE (measured
    * within-class mean cosine 0.005 vs 0.0006 cross), so held-out
    * accuracy on it is chance by construction of the data; the
    * oracle gates the trained-model math on the real corpus, and the
    * LEARNING property is spec-pinned on a synthetic separable frame
    * (acc 1.0 — the q59 drive-the-branch convention).
    *
    * Determinism is the q92 rule end to end: class means via
    * floor-quantized integer dimension sums (exact under any
    * partitioning), assignment by 6-dp-rounded cosine with lowest-
    * label tiebreak. Scale shape: the train side collapses map-side
    * to k×d rows before its only shuffle; the prototype frame is k×d
    * and broadcast; scoring is ONE map-side pass over the corpus
    * (the assignCells struct-max — no window, no shuffle of anything
    * corpus-sized). */
  def centroidClassify(embeddings: DataFrame): DataFrame = {
    val e = withNorm(embeddings)
    val lab = embeddings.select(col("vec_id"),
      col("label").cast("long").as("actual"))
    val cents = e.join(lab, "vec_id")
      .where(col("vec_id") % 3 =!= 0)
      .select(col("actual").as("lbl"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy("lbl", "pos")
      .agg(sum(floor(col("x") * 1e6).cast("long")).as("sq"),
        count(lit(1)).as("n"))
      .withColumn("m", col("sq").cast("double") / col("n") / 1e6)
      .groupBy("lbl")
      .agg(transform(sort_array(collect_list(struct(col("pos"), col("m")))),
        s => s.getField("m")).as("cv"))
      .select(col("lbl").as("cent_id"), col("cv"),
        sqrt(dot(col("cv"), col("cv"))).as("cnrm"))
    assignCells(e, cents)
      .join(lab, "vec_id")
      .select(col("vec_id"), col("cell").as("pred"),
        col("ccos6").as("cos6"), col("actual"),
        (col("cell") === col("actual")).as("correct"))
      .orderBy("vec_id")
  }

  /** q211 — TOP PRINCIPAL COMPONENT of the embedding corpus by power
    * iteration: the whitening / dimensionality primitive of an
    * embedding pipeline (PCA-reduce before clustering is the SemDeDup
    * paper's own preprocessing). Two stages with very different scale
    * shapes, split accordingly:
    *
    *  1. COVARIANCE — the corpus-sized work: ONE typed-Aggregator
    *     pass (`GramAggregator`) folds each vector's d² quantized
    *     outer product + column sums + count into a flat Long buffer
    *     per partition (the classic distributed Gram shape — no
    *     self-join, no per-cell Generate; partials merge as flat
    *     array adds, exactly a HashAggregate's combine discipline).
    *     Entries are exact BIGINT sums of floor-quantized micros
    *     (overflow headroom to ~1e9 rows at these magnitudes; beyond
    *     that the sums move to DECIMAL(38,0), same discipline as
    *     q49's observe).
    *  2. POWER ITERATION — d²-BOUNDED work (4096 cells at d=64),
    *     collected once and iterated driver-local: the Bpe.trainLocal
    *     precedent (driver-local is the production shape once the
    *     relation is parameter-bounded, never corpus-sized). Eight
    *     fixed rounds; each round is integer matrix·vector (exact),
    *     then renormalization to w ∈ [-1000, 1000] via
    *     floor(t/max|t|·1e3 + 0.5) — pure IEEE ops on exact integers,
    *     so Scala, Spark SQL, and DuckDB agree bit-for-bit, and the
    *     integer state kills the order-dependent-double-sum hazard a
    *     float power iteration would have.
    *
    * The ORACLE replays both stages — the covariance relation and all
    * eight unrolled rounds — so the hash gates the trained component,
    * not plumbing (the q92/q209/q210 trained-model gate, fourth
    * member). Output: one row per dimension with the quantized loading
    * and the shared un-normalized eigenvalue estimate `lam_q`
    * (max|t| of the final round — exact integer). Sign is pinned by
    * the all-ones start vector. */
  def pcaTopComponent(embeddings: DataFrame, rounds: Int = 8): DataFrame = {
    val spark = embeddings.sparkSession
    val (w, lam) = pcaTrained(embeddings, rounds)
    import spark.implicits._
    w.zipWithIndex.map { case (l, p) => (p.toLong, l, lam) }
      .toDF("pos", "loading_q", "lam_q")
      .orderBy("pos")
  }

  /** The trained component as driver values — the d-bounded artifact
    * three queries consume (q211 renders it, q212 projects with it,
    * q216 bins on the projection). Session-memoized per (corpus plan,
    * file state, rounds) and ArtifactStore-backed like the codebook
    * family, so the covariance pass — the only corpus-sized stage —
    * runs once per corpus per session, and zero times in a restarted
    * driver with the store enabled. */
  private[graft] def pcaTrained(embeddings: DataFrame,
      rounds: Int): (Seq[Long], Long) =
    Memos.get("pca", embeddings, rounds)(
      pcaTrainedArtifact(embeddings, rounds))(
      pcaComputeTrained(embeddings, rounds))

  private def pcaTrainedArtifact(embeddings: DataFrame,
      rounds: Int): (Seq[Long], Long) = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val df = graft.sources.ArtifactStore.loadOrBuild(
        "pca_component", embeddings, rounds.toString) {
      val (w, lam) = pcaComputeTrained(embeddings, rounds)
      w.zipWithIndex.map { case (l, p) => (p.toLong, l, lam) }
        .toDF("pos", "loading_q", "lam_q")
    }
    val rows = df.orderBy("pos").collect()
    (rows.map(_.getLong(1)).toSeq, rows.head.getLong(2))
  }

  private def pcaComputeTrained(embeddings: DataFrame,
      rounds: Int): (Seq[Long], Long) = {
    val d = embeddings.select(size(col("embedding"))).head().getInt(0)
    val q = embeddings
      .select(transform(asDouble(col("embedding")),
        x => floor(x * 1e6).cast("long")).as("xq"))
    // ONE corpus pass: gram cells + column sums + count in a flat
    // buffer (GramAggregator) — the only stage that touches the data
    val gram = org.apache.spark.sql.functions.udaf(
      new graft.functions.GramAggregator(d),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]())
    val buf = q.agg(gram(col("xq")).as("g")).head().getSeq[Long](0).toArray
    val n = buf(d * d + d)
    def sx(i: Int): Long = buf(d * d + i)
    // centered covariance entry, floor-quantized: exact integer inputs
    // through a FIXED double expression -> identical on every engine
    // (mirrors the oracle's CAST(spp AS DOUBLE) - sa*sb/n, / n, floor)
    val cm = Array.tabulate(d, d)((a, b) =>
      math.floor((buf(a * d + b).toDouble -
        sx(a).toDouble * sx(b) / n) / n).toLong)
    // d²-bounded: iterate driver-local (exact integers)
    var w = Array.fill(d)(1000L)
    var lam = 0L
    for (_ <- 0 until rounds) {
      val t = Array.tabulate(d)(a =>
        (0 until d).map(b => cm(a)(b) * w(b)).sum)
      lam = t.map(math.abs).max
      w = t.map(v => math.floor(v.toDouble / lam * 1e3 + 0.5).toLong)
    }
    (w.toSeq, lam)
  }

  /** q212 — the REDUCE step q211 exists for: every embedding projected
    * onto the trained component (the 1-D reduction a pipeline feeds to
    * downstream binning/clustering; PCA-reduce-then-cluster is the
    * SemDeDup preprocessing). The component is d-BOUNDED, so it rides
    * the plan as a LITERAL array and the projection is a pure map-side
    * integer fold per vector — zero shuffles before the presentation
    * sort, the q45 class of plan. proj_q = Σ xq·w is an exact BIGINT
    * (array-ordered fold ≡ the oracle's join-sum because integer
    * addition commutes); `proj` renders it at natural scale (1e6
    * quantization × 1e3 component scale). The oracle replays the FULL
    * train + apply chain (shared pcaCtes), so the hash gates the
    * trained component and its application together. */
  def pcaProject(embeddings: DataFrame, rounds: Int = 8): DataFrame = {
    val w = pcaTrained(embeddings, rounds)._1
    embeddings.select(col("vec_id"),
      aggregate(zip_with(
        transform(asDouble(col("embedding")), x => floor(x * 1e6).cast("long")),
        typedLit(w), (x, c) => x * c), lit(0L), (acc, t) => acc + t)
        .as("proj_q"))
      .withColumn("proj", col("proj_q").cast("double") / 1e9)
      .orderBy("vec_id")
  }

  /** q216 — SemDeDup with the paper's OWN preprocessing: q212's PCA
    * projection partitions the corpus into equal-width 1-D bins and
    * the q93 decision (within-cell cosine edges → connected
    * components → min-id canonical) runs inside each bin. This closes
    * the q211→q212→dedup chain as ONE oracle-gated relation: the hash
    * gates trained component + projection + binning + edge predicate
    * + closure together. Versus q93's hash-seeded cells, PCA bins put
    * geometrically-near vectors in the SAME cell by construction —
    * the recall/cost trade SemDeDup actually makes (cross-bin
    * near-dups are the accepted loss, the bin count is the knob).
    * Scale: the projection is a map-side literal-array fold (q212);
    * the min/max frame is ONE broadcast row; the pair stage shuffles
    * on `bin` and is quadratic only within a bin; the component loop
    * is the endpoint-bounded q49 iteration. Equal-width integer
    * binning (exact `div` on the non-negative shifted projection —
    * hi = lo pins to bin 0) rather than quantiles keeps the bin rule
    * a pure scalar so both engines replay it without a rank pass. */
  /** q282 — EMBEDDING dedup threshold sensitivity: q281's decision
    * curve on the second modality. Per integer cosine percent t in
    * [loPct..100] over the q216 PCA-bin candidate pairs: `pairs_ge` =
    * candidates with cosine ≥ t%, `vecs_touched` = vectors whose BEST
    * candidate is ≥ t% — what a semantic dedup at threshold t would
    * pull into clusters. Integer floor-percent buckets
    * (`floor(cos·100)`, so `floor ≥ t ⟺ cos ≥ t%` for integer t);
    * doubles are bit-identical across engines (the q216 precedent),
    * so floor lands on the same integer. Rides q216's candidate
    * blocking (the memoized PCA projection + same-bin join); the fold
    * is [[Dedup.sensitivityCurve]] — bounded histograms, never
    * corpus-sized state.
    *
    * `multiProbe` (q283, round-13 verdict #4): single-bin candidates
    * are containment-blind to PAIRS STRADDLING A BIN BOUNDARY —
    * exactly the recall q216's dedup forgoes, invisible to the
    * single-bin curve because curve and dedup share the blocking.
    * With multi-probe on, each probe-side vector also probes its two
    * ADJACENT bins (explode to bin−1/bin/bin+1, still an equi-join —
    * no theta pair join), so every |Δbin| ≤ 1 pair is scored exactly
    * once (the probe side is exploded, the build side is not, and
    * doc_a < doc_b dedups orientation). Candidate volume ≈ 3× the
    * same-bin join's probe rows (adjacent-bin pair volume ≈ 2× the
    * same-bin pairs) — still bin-bounded, never all-pairs. The DELTA
    * between the two curves at threshold t IS the measured recall the
    * single-bin blocking forgoes (spec-pinned on a planted
    * boundary-straddling twin). */
  def cosineThresholdSensitivity(embeddings: DataFrame, bins: Int = 16,
      loPct: Int = 40, multiProbe: Boolean = false): DataFrame = {
    val proj = pcaProject(embeddings).select("vec_id", "proj_q")
    val mm = proj.agg(min(col("proj_q")).as("lo"), max(col("proj_q")).as("hi"))
    val binned = proj.crossJoin(broadcast(mm))
      .withColumn("bin", expr(s"CASE WHEN hi = lo THEN 0 " +
        s"ELSE ((proj_q - lo) * $bins) div (hi - lo + 1) END"))
      .select("vec_id", "bin")
    val e = withNorm(embeddings).join(binned, "vec_id")
    val a0 = e.select(col("bin"), col("vec_id").as("doc_a"),
      col("v").as("va"), col("nrm").as("na"))
    val a =
      if (!multiProbe) a0.withColumnRenamed("bin", "jbin")
      else a0.select(
        explode(array(col("bin") - 1, col("bin"), col("bin") + 1)).as("jbin"),
        col("doc_a"), col("va"), col("na"))
    val b = e.select(col("bin").as("jbin"), col("vec_id").as("doc_b"),
      col("v").as("vb"), col("nrm").as("nb"))
    val scored = a.join(b, Seq("jbin"))
      .where(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        floor(dot(col("va"), col("vb")) / (col("na") * col("nb")) * 100)
          .cast("long").as("p"))
    Dedup.sensitivityCurve(scored, loPct, "vecs_touched")
  }

  def pcaBinDedup(embeddings: DataFrame, bins: Int = 16,
      threshold: Double = 0.4): DataFrame = {
    val proj = pcaProject(embeddings).select("vec_id", "proj_q")
    val mm = proj.agg(min(col("proj_q")).as("lo"), max(col("proj_q")).as("hi"))
    val binned = proj.crossJoin(broadcast(mm))
      .withColumn("bin", expr(s"CASE WHEN hi = lo THEN 0 " +
        s"ELSE ((proj_q - lo) * $bins) div (hi - lo + 1) END"))
      .select("vec_id", "bin")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val e = withNorm(embeddings).join(binned, "vec_id")
    val a = e.select(col("bin"), col("vec_id").as("doc_a"),
      col("v").as("va"), col("nrm").as("na"))
    val b = e.select(col("bin"), col("vec_id").as("doc_b"),
      col("v").as("vb"), col("nrm").as("nb"))
    val edges = a.join(b, Seq("bin"))
      .where(col("doc_a") < col("doc_b"))
      .where(dot(col("va"), col("vb")) / (col("na") * col("nb")) >= threshold)
      .select("doc_a", "doc_b")
    val labels = Dedup.clusterLabels(
      embeddings.select(col("vec_id").as("doc_id")), edges)
    val result = labels
      .join(binned.select(col("vec_id").as("doc_id"), col("bin")), "doc_id")
      .select(col("doc_id").as("vec_id"), col("bin"),
        col("cluster_id"), col("is_canonical"))
      .orderBy("vec_id")
    Dedup.finishWith(result, binned)
  }

  /** q93 — SEMANTIC deduplication (the SemDeDup shape: Abbas et al.
    * 2023, arXiv:2303.09540): embedding-space near-dup clustering,
    * the decision step a training pipeline runs over embeddings the
    * way q58 runs over token sets. Pipeline: (1) every vector is
    * assigned to a bounded coarse cell (the q43/q92 codebook — here
    * the deterministic hash-ordered seed, k-means being an orthogonal
    * upgrade); (2) WITHIN each cell, pairs with cosine ≥ `threshold`
    * become edges — the cell bound is what kills the O(n²) global
    * pair stage, the SemDeDup trade (cross-cell near-dups are the
    * accepted recall loss, exactly like LSH banding); (3) connected
    * components label every vector with its cluster's min vec_id —
    * the canonical representative kept, everything else droppable.
    *
    * Scale: assignment is a broadcast-codebook map pass; the pair
    * stage shuffles on `cell` and is quadratic only within a cell
    * (cells/corpus is the operator's knob: more cells → cheaper pairs,
    * lower recall); the component loop is the q49/q58 endpoint-bounded
    * iteration. Nothing corpus-sized is broadcast or collected. */
  def semanticDedup(embeddings: DataFrame, threshold: Double,
      numCents: Int = 32, iters: Int = 0): DataFrame = {
    val e = withNorm(embeddings)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // iters > 0 plugs the q92-trained codebook in (tighter cells →
    // better recall at the same cell count); the oracle-gated default
    // is the raw seed, keeping the q93 oracle SQL at one assignment.
    // Round 14: the codebook reads the session memo in eager mode
    // (shared with q43/q92/q102/q107/q270); the assignment stays
    // per-call — q93's edge scoring needs v/nrm, which the shared
    // narrow leaf deliberately drops.
    val cents =
      if (Dedup.eagerMaterialize(embeddings))
        trainedCents(embeddings, iters, numCents)
      else trainCents(e, iters, numCents)
    val assigned = assignCells(e, cents)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = assigned.select(col("cell"), col("vec_id").as("doc_a"),
      col("v").as("va"), col("nrm").as("na"))
    val b = assigned.select(col("cell"), col("vec_id").as("doc_b"),
      col("v").as("vb"), col("nrm").as("nb"))
    val edges = a.join(b, Seq("cell"))
      .where(col("doc_a") < col("doc_b"))
      .where(dot(col("va"), col("vb")) / (col("na") * col("nb")) >= threshold)
      .select("doc_a", "doc_b")
    val labels = Dedup.clusterLabels(
      embeddings.select(col("vec_id").as("doc_id")), edges)
    val result = labels
      .join(assigned.select(col("vec_id").as("doc_id"), col("cell")), "doc_id")
      .select(col("doc_id").as("vec_id"), col("cell"),
        col("cluster_id"), col("is_canonical"))
      .orderBy("vec_id")
    Dedup.finishWith(result, assigned, e)
  }

  /** q65 — per-dimension embedding statistics (the feature-normalization
    * pre-pass: each dimension's range and mean across the corpus). One
    * posexplode + one aggregation — linear, map-side partials. min/max
    * are exact (no accumulation); the mean routes through floor-
    * quantized integer sums (×10⁶) because a float sum is
    * order-dependent — the quantized mean is exact and identical on
    * any engine and any partitioning, which is what a reproducible
    * normalization constant requires. */
  def dimStats(embeddings: DataFrame): DataFrame =
    embeddings
      .select(posexplode(col("embedding")).as(Seq("pos0", "x")))
      .select((col("pos0") + 1).cast("long").as("pos"), col("x").cast("double").as("x"))
      .groupBy("pos")
      .agg(
        count(lit(1)).as("n"),
        min(col("x")).as("min_x"),
        max(col("x")).as("max_x"),
        sum(floor(col("x") * 1e6).cast("long")).as("sq"))
      .select(col("pos"), col("n"), col("min_x"), col("max_x"),
        (col("sq").cast("double") / col("n") / 1e6).as("mean_q"))
      .orderBy("pos")

  /** q197 — per-vector profile via HIGHER-ORDER FUNCTIONS: the array
    * combinators (`transform`/`aggregate`/`filter`/`exists`/`forall`)
    * applied to the embedding column — the surface a pipeline author
    * reaches for BEFORE writing a UDF (no serialization boundary, no
    * closure shipping, fully analyzable by Catalyst). Honest cost
    * note: Spark's array HOFs are `CodegenFallback` — each lambda
    * runs INTERPRETED with per-element boxing (this file's header
    * calls that the suite's biggest scale-killer, and it is exactly
    * why `DotProductDouble`/`PolyHashString` exist for the hot
    * paths). q197 is the API-surface demonstration on a per-row
    * bounded 64-element array where interpretation cost is immaterial
    * and the whole query is scan → project → TakeOrdered (zero
    * shuffles); a pairwise or corpus-scale loop over these combinators
    * would be the custom-expression trigger, not a pattern to copy.
    * The sum-of-squares term is floor-quantized to a LONG per element
    * before the fold, so the aggregate is an exact integer sum —
    * order-independent, bit-identical on both engines (the q65/q87
    * convention); float→double casts are exact by IEEE widening.
    * DuckDB replays each combinator with its list twins
    * (`list_transform`/`list_reduce`/`list_filter`). */
  def hofVectorProfile(embeddings: DataFrame): DataFrame =
    embeddings.select(
      col("vec_id"),
      size(col("embedding")).cast("long").as("dim"),
      aggregate(
        transform(col("embedding"),
          x => floor(x.cast("double") * x.cast("double") * 1e6).cast("long")),
        lit(0L), (acc, t) => acc + t).as("ssq_q"),
      size(filter(col("embedding"), x => x.cast("double") < 0.0))
        .cast("long").as("n_neg"),
      exists(col("embedding"), x => x.cast("double") > 0.9).as("has_big"),
      forall(col("embedding"), x => abs(x.cast("double")) <= lit(10.0))
        .as("bounded"))
      .orderBy("vec_id")

  /** q87 — int8 scalar quantization of the embedding column: the
    * standard vector-index compression step (scale each vector by
    * 127/max|x|, round to integers in [-127, 127]). Rounding is the
    * explicit `floor(x·scale + 0.5)` formulation — pure IEEE ops that
    * both engines evaluate identically, instead of engine-native
    * `round` whose half-way rule may differ. Per-vector audit output
    * (quantized min/max/sum/nonzero count + the scale denominator) —
    * what a pipeline checks before swapping the f32 index for the int8
    * one. Everything is array HOFs inside one narrow projection: no
    * shuffle, no explode, linear scan; the quantized array itself
    * never leaves the projection. All-zero vectors quantize to zeros
    * (scale denominator 0 is spec-pinned, not divided by). */
  def quantizeStats(embeddings: DataFrame): DataFrame = {
    val q = transform(col("v"),
      x => when(col("maxabs") > lit(0.0d),
        floor(x * lit(127.0d) / col("maxabs") + lit(0.5d)).cast("long"))
        .otherwise(lit(0L)))
    embeddings
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("maxabs",
        aggregate(col("v"), lit(0.0d), (acc, x) => greatest(acc, abs(x))))
      .withColumn("q", q)
      .select(
        col("vec_id"),
        col("maxabs"),
        array_min(col("q")).as("min_q"),
        array_max(col("q")).as("max_q"),
        aggregate(col("q"), lit(0L), (a, x) => a + x).as("sum_q"),
        size(filter(col("q"), x => x =!= lit(0L))).cast("long").as("nnz"))
      .orderBy("vec_id")
  }

  /** q106 — IVF-PQ's product-quantization half (Jégou et al. 2011,
    * "Product Quantization for Nearest Neighbor Search"): the vector
    * compression that completes the ANN family (q26 LSH buckets, q43
    * IVF cells, q92/q102 trained coarse codebooks, q87 int8 scalar
    * quantization — PQ is the standard pairing that makes 100 TB-scale
    * vector search fit in memory: 64 f32 dims → `numSubs` one-byte
    * codes).
    *
    * Each UNIT-NORMALIZED vector splits into `numSubs` contiguous
    * `subDim`-dim subvectors; each subspace trains its OWN `ksub`-entry
    * codebook — the q92 Lloyd recipe (hash-ordered seed, quantized-
    * integer centroid means) keyed by the extra `m` column, so all
    * subspaces train in the SAME DataFrame pass, not numSubs separate
    * job chains. Encoding = per-subspace argmin L2 (computed as
    * d² = ⟨s,s⟩ − 2⟨s,c⟩ + ⟨c,c⟩ on the shared codegen'd dot — 6-dp
    * rounded, cent_id tiebreak: the q43 determinism rule). The probe is
    * ASYMMETRIC (ADC): the query stays full-precision and scores
    * against each vector's RECONSTRUCTION (its subspace centroids
    * concatenated) — one exact dot, approximating cosine since inputs
    * are unit vectors.
    *
    * Scale: codebooks are numSubs·ksub·subDim doubles — bounded
    * parameters, broadcast; training collapses the corpus to
    * numSubs·ksub·subDim rows map-side per round (the q92 layout);
    * encode is a broadcast map pass; the bounded query side broadcasts
    * over the reconstructed corpus exactly like q19. Nothing
    * corpus-sized shuffles except on the (vec_id, m) aggregation keys.
    * PqSpec pins recall against the exact q19 baseline and
    * partitioning-invariance. */
  /** PQ defaults shared with the q106 oracle SQL (the literal-constant
    * rule the hash/perm families follow): 32 subspaces × 2 dims × 16
    * centroids — measured 0.70 recall@3 vs exact on the near-uniform
    * synthetic embeddings (finer splits beat wider codebooks there;
    * real clustered embeddings tolerate the classic 8×8). */
  val PqNumSubs = 32
  val PqSubDim = 2
  val PqKsub = 16

  /** Unit-normalized `(vec_id, u)` frame — PQ operates on the unit
    * sphere so its ADC dot approximates cosine directly. */
  private[graft] def unitVecs(e: DataFrame): DataFrame =
    e.select(col("vec_id"), transform(col("v"), x => x / col("nrm")).as("u"))

  private[graft] def unitVecsOf(embeddings: DataFrame): DataFrame =
    unitVecs(withNorm(embeddings))

  /** PQ TRAINING + ENCODE: per-subspace Lloyd codebooks
    * `(m, cent_id, cv)` and per-vector codes `(vec_id, m, code)` —
    * the two relations a PQ index PERSISTS (`VectorStore.savePq`):
    * codes are numSubs small ints per vector, the 16–32× compression
    * that makes 100 TB vector search fit storage. Returns
    * (codebooks, codes, persisted-subs-handle). */
  private[graft] def pqTrain(u: DataFrame, numSubs: Int, subDim: Int,
      ksub: Int, iters: Int): (DataFrame, DataFrame, DataFrame) = {
    val subs = u
      .select(col("vec_id"), explode(sequence(lit(0), lit(numSubs - 1))).as("m"), col("u"))
      .select(col("vec_id"), col("m"),
        slice(col("u"), col("m") * subDim + 1, lit(subDim)).as("sv"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // subspace L2², 6-dp rounded — the assignment/encode rank key
    def d6(sv: Column, cv: Column): Column =
      round(dot(sv, sv) - lit(2.0) * dot(sv, cv) + dot(cv, cv), 6)
    // seed: the q43 hash-ordered sample's SLICES — one draw of ksub
    // vectors shared by every subspace
    val seedIds = u
      .orderBy(graft.functions.TextFns.polyHash(col("vec_id").cast("string")).asc,
        col("vec_id").asc)
      .limit(ksub).select(col("vec_id").as("sid"))
    var cents = subs.join(broadcast(seedIds), col("vec_id") === col("sid"))
      .select(col("m"), col("vec_id").as("cent_id"), col("sv").as("cv"))
    for (_ <- 0 until iters) {
      // argmin via min(struct) — partial aggregation collapses the ksub
      // candidate rows per (vec, m) BEFORE the shuffle (the q64 rule);
      // cent_id is unique per group so sv is never compared
      val assigned = subs.join(broadcast(cents), Seq("m"))
        .withColumn("d6", d6(col("sv"), col("cv")))
        .groupBy("vec_id", "m")
        .agg(min(struct(col("d6"), col("cent_id"), col("sv"))).as("best"))
        .select(col("m"), col("best.cent_id").as("cell"), col("best.sv").as("sv"))
      // per-(m, cell, dim) floor-quantized integer means (the q92/q65
      // order-independence rule), reassembled into centroid arrays;
      // member-less cells drop out deterministically on both engines
      cents = assigned
        .select(col("m"), col("cell"), posexplode(col("sv")).as(Seq("pos", "x")))
        .groupBy("m", "cell", "pos")
        .agg(sum(floor(col("x") * 1e6).cast("long")).as("sq"), count(lit(1)).as("n"))
        .withColumn("c", col("sq").cast("double") / col("n") / 1e6)
        .groupBy("m", "cell")
        .agg(transform(sort_array(collect_list(struct(col("pos"), col("c")))),
          s => s.getField("c")).as("cv"))
        .select(col("m"), col("cell").as("cent_id"), col("cv"))
    }
    // the final codebook is referenced at least twice downstream
    // (encode + decode) and its lineage is the whole training chain —
    // persisting it (numSubs·ksub rows, parameter-sized) caps that at
    // one execution. At sf0.1 this measures FLAT (the cached subs make
    // re-aggregation cheap; the wall time is the ~7 sequential
    // broadcast-build jobs of the Lloyd chain — the q49/q58 fixed
    // job-floor class); at scale the subs cache spills and re-running
    // the training aggregations would mean two extra corpus-wide
    // passes, which this persist removes
    val centsP = cents.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    (centsP, pqEncodeSubs(subs, centsP), subs)
  }

  /** ENCODE a subvector relation against a FIXED codebook — the step
    * shared by training's own final encode and the incremental-ingest
    * path (`VectorStore.encodePq`: new vectors get codes against the
    * STORED codebook, no retraining — the q90/q94/q105 pattern). Given
    * a codebook, encoding is pointwise per vector, so batch boundaries
    * cannot change any code. */
  private def pqEncodeSubs(subs: DataFrame, cents: DataFrame): DataFrame = {
    def d6(sv: Column, cv: Column): Column =
      round(dot(sv, sv) - lit(2.0) * dot(sv, cv) + dot(cv, cv), 6)
    val cb = cents.select(col("m").as("cm"), col("cent_id").as("cid"), col("cv"))
    subs.join(broadcast(cb), col("m") === col("cm"))
      .withColumn("d6", d6(col("sv"), col("cv")))
      .groupBy("vec_id", "m")
      .agg(min(struct(col("d6"), col("cid"))).as("best"))
      .select(col("vec_id"), col("m"), col("best.cid").as("code"))
  }

  /** Public encode entry: unit-normalized vectors → PQ codes against a
    * given codebook. */
  private[graft] def pqEncode(u: DataFrame, cents: DataFrame,
      numSubs: Int = PqNumSubs, subDim: Int = PqSubDim): DataFrame =
    pqEncodeSubs(
      u.select(col("vec_id"), explode(sequence(lit(0), lit(numSubs - 1))).as("m"), col("u"))
        .select(col("vec_id"), col("m"),
          slice(col("u"), col("m") * subDim + 1, lit(subDim)).as("sv")),
      cents)

  /** PQ DECODE: each vector's reconstruction = its chosen subspace
    * centroids concatenated in subspace order. (A production serving
    * path can skip materializing the reconstruction via the classic
    * per-query lookup table — LUT[m][code] = ⟨q_m, cv⟩, adc = Σ over
    * codes — but the recon form keeps the dot the SAME left fold as
    * every other cosine in the engine, so stored-probe ≡ in-memory
    * results are bit-identical, which the LUT's different summation
    * order would not be.) */
  private[graft] def pqDecode(codes: DataFrame, cents: DataFrame): DataFrame = {
    val cb = cents.select(col("m").as("cm"), col("cent_id").as("cid"), col("cv"))
    codes.join(broadcast(cb),
        col("m") === col("cm") && col("code") === col("cid"))
      .groupBy("vec_id")
      .agg(flatten(transform(sort_array(collect_list(struct(col("m"), col("cv")))),
        s => s.getField("cv"))).as("r"))
  }

  /** The ADC top-k probe shared by q106, q107's scoring leg, and the
    * stored-index path: full-precision queries against reconstructions. */
  private[graft] def adcTopK(queries: DataFrame, recon: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("vec_a"))
      .orderBy(col("adc6").desc, col("vec_b").asc)
    broadcast(queries)
      .join(recon.select(col("vec_id").as("vec_b"), col("r")),
        col("vec_a") =!= col("vec_b"))
      .withColumn("adc6", round(dot(col("qu"), col("r")), 6))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= k)
      .select(col("vec_a"), col("vec_b"), round(col("adc6"), 2).as("adc_sim"), col("rnk"))
      .orderBy("vec_a", "rnk", "vec_b")
  }

  /** A fingerprint of the scanned files' (path, length, mtime) — the
    * data-version component of the PQ memo key: the file INDEX hashes
    * by root path alone, so without this a same-path rewrite would
    * silently serve codes trained on the previous corpus. Non-file
    * relations (test frames) contribute a constant; semanticHash
    * already distinguishes their data. */
  private[graft] def fileStateHash(u: DataFrame): Int =
    u.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.listFiles(Nil, Nil)
              .flatMap(_.files)
              .map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
              .hashCode()
          case _ => 0
        }
    }.hashCode()

  /** Train-or-reuse + decode; returns the recon frame and the
    * persisted handles for the caller to release (empty on the tower
    * path — checkpointed leaves need no release). Lazy plan-audit mode
    * keeps the full training tower (a checkpoint scan leaf would hide
    * it).
    *
    * The trained (codebook, codes) pair is a session tower. A PQ index
    * is trained ONCE and probed many times — that is the entire
    * economics of PQ — so the flat-ADC query (q106) and IVFADC (q107)
    * sharing one Lloyd chain per session is the semantics a serving
    * engine has, not a bench trick; the r5 suite paid the same ~5 s
    * training twice per pass. Training is deterministic, so reuse is
    * result-invariant — PqSpec pins single-training reuse and result
    * equality. */
  private def pqRecon(u: DataFrame, numSubs: Int, subDim: Int, ksub: Int,
      iters: Int): (DataFrame, Seq[DataFrame]) =
    if (!Dedup.eagerMaterialize(u)) {
      val (cents, codes, subs) = pqTrain(u, numSubs, subDim, ksub, iters)
      (pqDecode(codes, cents), Seq(subs, cents))
    } else {
      val (cents, codes) = Memos.get("trainedPq", u,
          (numSubs, subDim, ksub, iters)) {
        // artifact-backed (ArtifactStore): with spark.graft.artifactDir
        // set, a restarted driver loads the trained codebook + codes
        // instead of re-running Lloyd; intermediates persist only on
        // the build path and are released after the checkpoints
        var release: () => Unit = () => ()
        try {
          val (cDf, cdDf) = graft.sources.ArtifactStore.loadOrBuildPair(
              "pq_codebook", u, s"$numSubs-$subDim-$ksub-$iters") {
            val (c, cd, subs) = pqTrain(u, numSubs, subDim, ksub, iters)
            release = () => { subs.unpersist(); c.unpersist() }
            (c, cd)
          }
          (cDf.localCheckpoint(true), cdDf.localCheckpoint(true))
        } finally release()
      }(sys.error("unreachable: lazy mode trains above"))
      (pqDecode(codes, cents), Nil)
    }

  /** Thresholded ADC pair gate over a reconstruction relation — shared
    * by the batch stored-index near-dup (`VectorStore.pqNearDupStored`)
    * and its streaming twin (stateless, so the SAME projection/filter
    * runs in a stream-static join). `q` carries (vec_new, qu). */
  private[graft] def adcPairs(q: DataFrame, recon: DataFrame,
      threshold: Double): DataFrame =
    q.join(recon.select(col("vec_id").as("vec_old"), col("r")),
        col("vec_new") =!= col("vec_old"))
      .withColumn("adc6", round(dot(col("qu"), col("r")), 6))
      .where(col("adc6") >= threshold)
      .select(col("vec_new"), col("vec_old"), col("adc6"))

  def pqAnn(embeddings: DataFrame, nQueries: Int, k: Int,
      numSubs: Int = PqNumSubs, subDim: Int = PqSubDim, ksub: Int = PqKsub,
      iters: Int = 2): DataFrame = {
    val u = unitVecs(withNorm(embeddings))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (recon, handles) = pqRecon(u, numSubs, subDim, ksub, iters)
    val q = u.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("vec_a"), col("u").as("qu"))
    val result = adcTopK(q, recon, k)
    Dedup.finishWith(result, (handles :+ u): _*)
  }

  /** q273 — PQ RECONSTRUCTION-DISTORTION audit: the quantization
    * error of the trained q106 codebook as p50/p95 through the q257
    * float-quantile machine — the third estimator-health relation
    * (q270 audits the IVF cells, q271 the MinHash estimator, this the
    * PQ compression every ADC score is built on). Per vector,
    * distortion x = 1 − round(⟨u, r⟩, 6) — the unit vector against
    * its own reconstruction, exactly the self-term of the ADC score
    * q106/q107 serve — so the audited quantity IS the serving error,
    * not a proxy. p50 says what a typical score loses to compression;
    * p95 is the tail a recall budget has to absorb; a collapsed p95
    * (≈0) after a retrain says the codebook memorized the corpus.
    *
    * Pure composition, zero new machinery: the SAME memoized trained
    * codebook q106/q107 decode from (one Lloyd chain per session —
    * the PQ economics), one vec_id equi join, one linear pass into
    * the bounded exponent-bucket histogram (no corpus sort; the
    * additive q257 state, so the same audit folds online for free). */
  def pqDistortion(embeddings: DataFrame,
      numSubs: Int = PqNumSubs, subDim: Int = PqSubDim, ksub: Int = PqKsub,
      iters: Int = 2): DataFrame = {
    val u = unitVecs(withNorm(embeddings))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (recon, handles) = pqRecon(u, numSubs, subDim, ksub, iters)
    val x = u.select(col("vec_id"), col("u"))
      .join(recon.select(col("vec_id"), col("r")), "vec_id")
      .select((lit(1.0) - round(dot(col("u"), col("r")), 6)).as("x"))
    val result = graft.operators.Relational.floatQuantiles(x, "x")
    Dedup.finishWith(result, handles :+ u: _*)
  }

  /** q107 — IVF-PQ proper (the Jégou et al. IVFADC pairing): q43's
    * inverted-file coarse cells select WHICH vectors a query scores,
    * q106's PQ reconstruction decides HOW each candidate is scored —
    * the full-precision query dots the candidate's reconstruction
    * (asymmetric distance) instead of its raw vector. This is the shape
    * a 100 TB vector index actually serves: the coarse quantizer bounds
    * the probe to ~nprobe/numCents of the corpus, and PQ shrinks what
    * each cell stores from dim·4 bytes to numSubs codes, so the probed
    * cells are read from a structure 16–32× smaller. q106's flat ADC
    * scan is the accuracy baseline for this; q43 is the
    * full-precision-in-cell twin.
    *
    * Plan: one bounded coarse-codebook broadcast ranks home (crnk=1)
    * and probe (crnk ≤ nprobe) cells — q43's exact machinery; the PQ
    * build is q106's m-keyed chain; the probe joins queries to
    * candidates on the cell equi-key (never a cross product) with the
    * recon attached by a vec_id equi-join. Each (query, candidate)
    * pair meets at most once (a candidate has ONE home cell). */
  def ivfPqAnn(embeddings: DataFrame, nQueries: Int, k: Int,
      numCents: Int = 32, nprobe: Int = 2,
      numSubs: Int = PqNumSubs, subDim: Int = PqSubDim, ksub: Int = PqKsub,
      iters: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = withNorm(embeddings)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val u = unitVecs(e)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (recon, pqHandles) = pqRecon(u, numSubs, subDim, ksub, iters)
    // q43's coarse assignment: seed codebook, crnk ranks cells per
    // vector (home = 1, probes ≤ nprobe); round 14 — the seed reads
    // the session memo in eager mode (shared with q43/q92/q93)
    val cents =
      if (Dedup.eagerMaterialize(embeddings)) trainedCents(embeddings, 0, numCents)
      else trainCents(e, 0, numCents)
    val wAssign = Window.partitionBy(col("vec_id"))
      .orderBy(col("ccos6").desc, col("cent_id").asc)
    val ranked = e.crossJoin(broadcast(cents))
      .withColumn("ccos6",
        round(dot(col("v"), col("cv")) / (col("nrm") * col("cnrm")), 6))
      .withColumn("crnk", row_number().over(wAssign))
      .where(col("crnk") <= math.max(1, nprobe))
      .select(col("vec_id"), col("cent_id").as("cell"), col("crnk"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val q = ranked.where(col("vec_id") < nQueries)
      .join(u, "vec_id")
      .select(col("vec_id").as("vec_a"), col("u").as("qu"), col("cell"))
    val c = ranked.where(col("crnk") === 1)
      .join(recon, "vec_id")
      .select(col("vec_id").as("vec_b"), col("r"), col("cell"))
    val w = Window.partitionBy(col("vec_a"))
      .orderBy(col("adc6").desc, col("vec_b").asc)
    val result = broadcast(q).join(c, Seq("cell"))
      .where(col("vec_a") =!= col("vec_b"))
      .withColumn("adc6", round(dot(col("qu"), col("r")), 6))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= k)
      .select(col("vec_a"), col("vec_b"), col("cell"),
        round(col("adc6"), 2).as("adc_sim"), col("rnk"))
      .orderBy("vec_a", "rnk", "vec_b")
    Dedup.finishWith(result, (pqHandles ++ Seq(ranked, u, e)): _*)
  }

  /** q26 — LSH-bucketed approximate nearest neighbors: the scale path
    * for similarity search. Every vector gets a NumPlanes-bit
    * random-hyperplane bucket (one scan, no shuffle of the corpus);
    * each query only compares against its own bucket — at 1000
    * executors the bucket join shuffles ~n/256 of the corpus per query
    * bucket instead of n. Exact cosine + top-k within the bucket. */
  def lshAnn(embeddings: DataFrame, nQueries: Int, k: Int, dim: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = withNorm(embeddings).withColumn("bucket", lshBucket(col("v"), dim))
    val q = e.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("vec_a"), col("v").as("va"), col("nrm").as("nrm_a"), col("bucket"))
    val c = e.select(col("vec_id").as("vec_b"), col("v").as("vb"), col("nrm").as("nrm_b"), col("bucket"))
    val w = Window.partitionBy(col("vec_a"))
      .orderBy(col("cos6").desc, col("vec_b").asc)
    broadcast(q).join(c, Seq("bucket"))
      .where(col("vec_a") =!= col("vec_b"))
      .withColumn("cos", dot(col("va"), col("vb")) / (col("nrm_a") * col("nrm_b")))
      .withColumn("cos6", round(col("cos"), 6))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= k)
      .select(col("vec_a"), col("vec_b"), col("bucket"), round(col("cos"), 2).as("cos_sim"), col("rnk"))
      .orderBy("vec_a", "rnk", "vec_b")
  }

  /** q103 — HYBRID retrieval: the BM25 text ranking (q99's scorer)
    * fused with an embedding-cosine ranking by Reciprocal Rank Fusion
    * (Cormack et al.: score = Σ 1/(k + rank), k = 60) — the standard
    * way modern search serves "keyword AND semantic" with no score
    * normalization across incomparable scales; rank-based fusion is
    * also exactly reproducible cross-engine where score mixing is not.
    *
    * Scale shape: each retriever first caps its list to `candPerList`
    * via TakeOrdered (never a full sort), so the rank windows run over
    * BOUNDED single partitions (≤ candPerList rows at any corpus
    * size — the q13 class); the fusion is a full-outer join of two
    * bounded lists. The doc/vec id spaces coincide in the testdata
    * (`TESTDATA.md`). Absent-from-a-list docs contribute 0 to the
    * fused score and ship rank −1. */
  def hybridRrf(docs: DataFrame, embeddings: DataFrame, terms: Seq[String],
      queryVecId: Long, candPerList: Int, topK: Int, rrfK: Int = 60): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bmTop = InvertedIndex.bm25Search(docs, terms, candPerList)
    val wB = Window.orderBy(col("score_q").desc, col("doc_id").asc)
    val bmRank = bmTop
      .withColumn("rank_text", row_number().over(wB).cast("long"))
      .select("doc_id", "rank_text")
    val e = withNorm(embeddings)
    val qv = e.where(col("vec_id") === queryVecId)
      .select(col("v").as("qv"), col("nrm").as("qn"))
    val cosTop = e.crossJoin(broadcast(qv))
      .withColumn("cos6", round(dot(col("v"), col("qv")) / (col("nrm") * col("qn")), 6))
      .select(col("vec_id").as("doc_id"), col("cos6"))
      .orderBy(col("cos6").desc, col("doc_id").asc)
      .limit(candPerList)
    val wV = Window.orderBy(col("cos6").desc, col("doc_id").asc)
    val vecRank = cosTop
      .withColumn("rank_vec", row_number().over(wV).cast("long"))
      .select("doc_id", "rank_vec")
    bmRank.join(vecRank, Seq("doc_id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (col("rank_text") + rrfK), lit(0.0)) +
          coalesce(lit(1.0) / (col("rank_vec") + rrfK), lit(0.0)))
      .select(col("doc_id"),
        coalesce(col("rank_text"), lit(-1L)).as("rank_text"),
        coalesce(col("rank_vec"), lit(-1L)).as("rank_vec"),
        col("rrf"))
      .orderBy(col("rrf").desc, col("doc_id").asc)
      .limit(topK)
  }
}
