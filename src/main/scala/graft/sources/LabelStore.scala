package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** The dedup DECISION as a PERSISTED, MAINTAINED artifact — the
  * production loop around `Dedup.mergeClusterLabels` (q202's
  * operator): cluster labels live in a bucketed catalog table, and a
  * daily ingest UPDATES them from the stored sketch index without
  * ever recomputing the old graph.
  *
  * The full daily cycle ([[update]] + [[commit]]):
  *
  *  1. probe the STORED band index with the batch
  *     (`SketchStore.probe` — only the batch is sketched, the q90
  *     contract) → cross edges;
  *  2. one batch-internal LSH pass → new×new edges;
  *  3. `mergeClusterLabels(stored labels, batch, edges)` — CC over
  *     the delta-sized contracted subgraph only (merge ≡ rebuild,
  *     oracle-proven by q202);
  *  4. write the updated labels back and APPEND the batch's sketches
  *     to the stored index — so TOMORROW's ingest probes today's
  *     corpus. The loop closes: LabelStoreSpec runs TWO generations
  *     of ingest and pins each day's labels ≡ a from-scratch rebuild
  *     over everything seen so far.
  *
  * Layout: labels bucketed on `doc_id` — the contraction join's key —
  * so the stored side of every update enters its joins exchange-free
  * (the SketchStore rationale: cost ∝ batch, not corpus). */
object LabelStore {

  /** Persist a label relation (doc_id, cluster_id), bucketed on the
    * update path's join key. */
  def save(labels: DataFrame, name: String, nBuckets: Int = 8): Unit = {
    labels.select("doc_id", "cluster_id").write.mode("overwrite")
      .bucketBy(nBuckets, "doc_id").sortBy("doc_id")
      .saveAsTable(name)
    invalidateGateMemo(name)
  }

  def load(spark: SparkSession, name: String): DataFrame =
    spark.table(name)

  /** Updated FULL label relation (old ∪ batch) from the stored labels
    * + stored sketch index + the arriving batch. Pure read — call
    * [[commit]] to persist the result and extend the sketch index.
    *
    * IDEMPOTENT by construction: batch docs already present in the
    * stored labels are anti-joined away (a full retry of an already-
    * committed batch is a no-op merge), and a batch doc whose sketch
    * already reached the index (the half-committed-crash case, see
    * [[commit]]) self-matches in the probe as an exact self-pair,
    * which the contraction's self-loop filter drops — so the RECOVERY
    * RULE after any crash is simply: re-run the day's ingest. */
  def update(spark: SparkSession, name: String, sketchName: String,
      newDocs: DataFrame, threshold: Double): DataFrame = {
    val stored = load(spark, name)
    val fresh = newDocs.join(stored.select("doc_id"), Seq("doc_id"), "left_anti")
    val (bands, sets) = SketchStore.load(spark, sketchName)
    val cross = Dedup.incrementalNearDupStored(bands, sets, fresh, threshold)
      .select(col("doc_new").as("doc_a"), col("doc_old").as("doc_b"))
      // a retried batch's docs may already be IN the stored index:
      // drop exact self-pairs (doc probing its own stored sketch)
      .where(col("doc_a") =!= col("doc_b"))
    val within = Dedup.minhashNearDup(fresh, threshold)
      .select("doc_a", "doc_b")
    Dedup.mergeClusterLabels(stored,
      fresh.select("doc_id"), cross.unionByName(within))
  }

  /** Persist the updated labels and APPEND the batch's sketches to
    * the stored index (bucket-spec-compatible append, so the layout
    * that makes probes exchange-free survives every generation).
    * `updated` is materialized BEFORE anything is written — it reads
    * from the very tables being replaced.
    *
    * Crash-safety ORDER: sketches append FIRST, labels commit LAST.
    * The two writes are not atomic together; a crash between them
    * leaves the batch's sketches stored but its labels absent, and
    * re-running the SAME day's ingest converges ([[update]] is
    * idempotent: self-pairs drop in contraction, duplicate sketch
    * rows only duplicate candidate pairs, and the label algebra —
    * min folds throughout — is insensitive to duplicated edges). The
    * reverse order would instead leave labeled docs INVISIBLE to
    * tomorrow's probe: near-dups of the crashed batch would be kept
    * wrongly, silently and permanently.
    *
    * Concurrency: the whole two-table publish runs under the store's
    * exclusive commit lease ([[StoreLock.withStoreLease]], fail-clean)
    * — two simultaneous committers would otherwise interleave batch
    * A's sketches with batch B's labels, a corruption neither retry
    * heals. The loser throws before any write starts; its update
    * relation was a pure read, so nothing of it becomes visible —
    * re-running the day's ingest after the winner is the same
    * recovery rule as a crash. (`updated` is frozen BEFORE the lease
    * so the materialize cost is not spent under it.) */
  def commit(spark: SparkSession, name: String, sketchName: String,
      newDocs: DataFrame, updated: DataFrame, nBuckets: Int = 8): Unit = {
    val frozen = updated.select("doc_id", "cluster_id").localCheckpoint(true)
    StoreLock.withStoreLease(spark, name) { lease =>
      // commit-point lease re-verify at each table boundary (round-10
      // ADVICE): a writer displaced between the sketch append and the
      // label save aborts instead of landing labels over the
      // successor's sketches
      lease.verify(); SketchStore.append(newDocs, sketchName, nBuckets)
      // a stamp-managed store (gen table present) must see its labels
      // generation ADVANCE on a labels-only commit — the paired keeper
      // table is now stale and the stamp gate has to refuse exactly
      // like the count gate does
      if (readGen(spark, name).nonEmpty) {
        lease.verify()
        // preserve the keeper binding — a labels-only commit changes
        // the generation, not which keeper table the store pairs with
        writeGen(spark, name, java.util.UUID.randomUUID().toString,
          readGenKeeper(spark, name))
      }
      lease.verify(); save(frozen, name, nBuckets)
    }
  }

  // ---- the SHIPPED keeper table (q262/q272), maintained beside the
  // labels: the store a near-dup pipeline actually serves from -------

  /** Persist the q262 keeper relation, bucketed on `cluster_id` — the
    * update path's join key, so the stored side of every keeper merge
    * enters exchange-free (the labels/sketch rationale). */
  def saveKeepers(keepers: DataFrame, name: String, nBuckets: Int = 8): Unit = {
    keepers.select("keep_id", "cluster_id", "n_members", "n_chars_kept",
        "n_chars_dropped")
      .write.mode("overwrite").bucketBy(nBuckets, "cluster_id")
      .sortBy("cluster_id").saveAsTable(name)
    invalidateGateMemo(name)
  }

  // ---- generation stamps (round-12 verdict #4): the cheap coverage
  // gate for slow-listing object stores ------------------------------

  /** One-row generation table `<name>_gen` holding the commit id of
    * the last completed publish (the GraphStore meta-row pattern). A
    * catalog-table property would not survive `saveAsTable(overwrite)`
    * (the table is recreated), so the stamp lives beside the data. */
  private def genTable(name: String) = name + "_gen"

  /** The labels' gen row also records WHICH keeper table it is bound
    * to (`keeper` column): a labels-only commit advances the labels
    * generation with a fresh UUID, so two stamp-managed keeper tables
    * sharing one labels table would each chase a different generation
    * and drift SILENTLY. Recording the binding turns that misuse into
    * a named error at the second table's first commit/rebuild/gate.
    * Keeper-side gen rows carry `keeper = null`; pre-binding stores
    * (single-column gen tables from earlier rounds) read as unbound
    * and adopt a binding at their next commit. */
  private def writeGen(spark: SparkSession, name: String, cid: String,
      keeper: Option[String] = None): Unit = {
    import spark.implicits._
    Seq((cid, keeper.orNull)).toDF("cid", "keeper")
      .write.mode("overwrite").saveAsTable(genTable(name))
  }

  private[graft] def readGen(spark: SparkSession, name: String): Option[String] =
    if (!spark.catalog.tableExists(genTable(name))) None
    else Some(spark.table(genTable(name)).head().getString(0))

  /** The keeper table the labels' stamp is bound to, if any. */
  private[graft] def readGenKeeper(spark: SparkSession,
      name: String): Option[String] =
    if (!spark.catalog.tableExists(genTable(name))) None
    else {
      val t = spark.table(genTable(name))
      if (!t.schema.fieldNames.contains("keeper")) None // pre-binding store
      else Option(t.head().getAs[String]("keeper"))
    }

  /** Refuse a keeper table other than the one the labels' stamp is
    * bound to (the ROUND12 residue: the contract was doc-only). */
  private def requireBinding(spark: SparkSession, labelsName: String,
      keepersName: String): Unit =
    readGenKeeper(spark, labelsName).filter(_ != keepersName).foreach { other =>
      throw new IllegalStateException(
        s"label table '$labelsName' is stamp-bound to keeper table " +
          s"'$other' — one keeper table per labels table under " +
          s"gate=stamp (a labels-only commit advances a generation only " +
          s"'$other' will see); give '$keepersName' its own labels table")
    }

  /** Which labels/keepers consistency gate [[updateWithKeepers]] runs:
    *
    *  - `count` (default) — the self-evident invariant
    *    Σ keepers.n_members = |labels|: a parquet-metadata count plus a
    *    cluster-sized sum per ingest. Metadata-cheap on parquet;
    *    MATERIAL on object stores with slow listing.
    *  - `stamp` — compare two one-row generation tables written by
    *    [[commitKeepers]] (labels' BEFORE its data, keepers' strictly
    *    AFTER its data, so every crash window — including a crash
    *    inside the stamp writes themselves — reads as disagreement,
    *    the safe direction). Two single-row reads per ingest,
    *    independent of store size. A pre-stamp store (no gen tables
    *    yet) falls back to the count gate once; the next commit mints
    *    the stamps. */
  private def gateMode(spark: SparkSession): String = {
    val m = spark.conf.get("spark.graft.labelstore.gate", "count")
    require(m == "count" || m == "stamp",
      s"spark.graft.labelstore.gate must be count|stamp; got '$m'")
    m
  }

  /** Session memo of PASSED count-gate verdicts (round-13 verdict #2):
    * the count gate costs two Spark jobs (a labels count + a keeper
    * coverage sum, ~1.2 s at sf0.1 local) and its verdict cannot
    * change while neither table changes — so it is keyed by
    * (labels, keepers) and stamped with both tables' CATALOG
    * create-times (a metadata-only read, no job). Every commit path
    * recreates its table via `saveAsTable(overwrite)` — a new
    * create-time — so the memo invalidates on commitKeepers,
    * labels-only commits, rebuilds, AND foreign-process commits alike;
    * the local write paths also drop the key explicitly
    * ([[invalidateGateMemo]]) to close the same-millisecond
    * re-creation window for this JVM. Only PASS verdicts memoize —
    * a refusal always re-derives (and is already on the error path). */
  private val gateMemo =
    new java.util.concurrent.ConcurrentHashMap[(String, String), (Long, Long)]()

  private def tableStamp(spark: SparkSession, name: String): Long =
    spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(name)).createTime

  private def invalidateGateMemo(name: String): Unit =
    gateMemo.keySet.removeIf(k => k._1 == name || k._2 == name)

  /** Measurement-protocol hook, called by `Memos.clearAll`. */
  def clearGateMemo(): Unit = gateMemo.clear()

  /** Job description stamped on the count gate's two jobs. */
  private[graft] val GateJobDescription = "graft-labelstore-count-gate"

  /** The labels/keepers consistency gate shared by every read-modify
    * path over the PAIRED tables ([[updateWithKeepers]],
    * [[upgradeEvents]]): refuse, with a named error pointing at the
    * one-aggregation repair [[rebuildKeepers]], whenever the store sits
    * in the labels-ahead partial-commit window. Without it the online
    * paths fail SILENTLY — a stale keeper table inner-joined against
    * freshly-assigned clusters just emits fewer (or zero) upgrade
    * events, quietly under-reporting instead of refusing. Repeat
    * ingests between commits serve the memoized verdict
    * ([[gateMemo]]) instead of re-paying the two jobs. */
  private def consistencyGate(spark: SparkSession, labelsName: String,
      keepersName: String, storedKeepers: DataFrame): Unit = {
    def countGate(): Unit = {
      val key = (labelsName, keepersName)
      val stamp = scala.util.Try((tableStamp(spark, labelsName),
        tableStamp(spark, keepersName))).toOption
      if (stamp.exists(_ == gateMemo.get(key))) return
      // tag the gate's two jobs (SQL-UI observability; also what the
      // memo spec counts — the surrounding ingest is eager, so "the
      // gate did not run" is only assertable by description)
      val prevDesc = spark.sparkContext
        .getLocalProperty("spark.job.description")
      spark.sparkContext.setJobDescription(GateJobDescription)
      val (nLabeled, nCovered) =
        try {
          val n = load(spark, labelsName).count()
          val c = storedKeepers.agg(sum(col("n_members"))).head() match {
            case r if r.isNullAt(0) => 0L
            case r => r.getLong(0)
          }
          (n, c)
        } finally spark.sparkContext.setJobDescription(prevDesc)
      if (nLabeled != nCovered)
        throw new IllegalStateException(
          s"keeper table '$keepersName' covers $nCovered docs but label " +
            s"table '$labelsName' holds $nLabeled — a labels-ahead partial " +
            "commit; run LabelStore.rebuildKeepers to repair before updating")
      stamp.foreach(gateMemo.put(key, _))
    }
    if (gateMode(spark) == "stamp") {
      // the binding error names the TRUE cause of a shared-labels
      // misuse; check it before the generic partial-commit refusal
      requireBinding(spark, labelsName, keepersName)
      (readGen(spark, labelsName), readGen(spark, keepersName)) match {
        case (Some(a), Some(b)) if a == b => () // last publish completed
        case (None, None)                 => countGate() // pre-stamp store
        case (la, ke) => throw new IllegalStateException(
          s"keeper table '$keepersName' generation ${ke.getOrElse("<absent>")} " +
            s"≠ label table '$labelsName' generation ${la.getOrElse("<absent>")} " +
            "— a labels-ahead partial commit; run LabelStore.rebuildKeepers " +
            "to repair before updating")
      }
    } else countGate()
  }

  /** The q272 daily cycle over STORED relations: merge the labels
    * (the proven [[update]] path — only the batch is sketched), then
    * carry/recompute the keeper table through `Dedup.mergeKeeperTable`
    * (the SAME algebra the oracle-gated query form runs). Returns
    * (updatedLabels, updatedKeepers), both pure reads — persist via
    * [[commitKeepers]].
    *
    * CONSISTENCY GATE: labels and keepers are two tables committed in
    * order (labels first — see [[commitKeepers]]), so a crash between
    * them leaves labels a generation ahead; blindly carrying keeper
    * rows would then freeze the stale generation forever (every
    * "dirty" signal reads clean once the batch is already labeled).
    * Two interchangeable detectors (see [[gateMode]]): the default
    * count invariant Σ keepers.n_members = |labels|, or the
    * generation-stamp compare for stores where even a metadata count
    * is material. Either way the update REFUSES with a named error
    * pointing at [[rebuildKeepers]], the one-aggregation repair. */
  def updateWithKeepers(spark: SparkSession, labelsName: String,
      sketchName: String, keepersName: String, newDocs: DataFrame,
      threshold: Double): (DataFrame, DataFrame) = {
    val storedKeepers = spark.table(keepersName)
    consistencyGate(spark, labelsName, keepersName, storedKeepers)
    val fresh = newDocs.join(load(spark, labelsName).select("doc_id"),
      Seq("doc_id"), "left_anti")
    val mergedLabels = update(spark, labelsName, sketchName, newDocs, threshold)
    val keepers = Dedup.mergeKeeperTable(storedKeepers,
      mergedLabels.select("doc_id", "cluster_id"),
      fresh.select(col("doc_id"), col("n_chars")))
    (mergedLabels, keepers)
  }

  /** Persist one keeper-cycle generation. ORDER: sketches → labels →
    * keepers, all under the store lease. Crash windows and their
    * recovery, in order:
    *  - after the sketch append: labels and keepers are both old —
    *    re-running the day's ingest converges ([[update]]'s
    *    idempotence) and the consistency gate passes;
    *  - after the label save: keepers are one generation behind —
    *    the [[updateWithKeepers]] gate detects it (labels count ≠
    *    keeper coverage) and [[rebuildKeepers]] repairs with one
    *    aggregation over the committed labels;
    *  - after the keeper save: fully committed — a re-run anti-joins
    *    the batch away and every cluster carries (a no-op).
    * Keepers LAST is deliberate: the reverse order would leave a
    * keeper table describing clusters the label table does not have
    * yet, which no invariant over the two tables can distinguish from
    * a legitimate small store. */
  def commitKeepers(spark: SparkSession, labelsName: String,
      sketchName: String, keepersName: String, newDocs: DataFrame,
      updatedLabels: DataFrame, updatedKeepers: DataFrame,
      nBuckets: Int = 8): Unit = {
    val frozenLabels = updatedLabels.select("doc_id", "cluster_id")
      .localCheckpoint(true)
    val frozenKeepers = updatedKeepers.localCheckpoint(true)
    // stamps are minted only under the stamp gate (or once a store
    // already carries them): two one-row writes the default count-gate
    // deployment never pays
    val stamping = gateMode(spark) == "stamp" ||
      readGen(spark, labelsName).nonEmpty
    if (stamping) requireBinding(spark, labelsName, keepersName)
    val cid = java.util.UUID.randomUUID().toString
    StoreLock.withStoreLease(spark, labelsName) { lease =>
      lease.verify(); SketchStore.append(newDocs, sketchName, nBuckets)
      // labels' stamp lands BEFORE its data: any crash from here to the
      // keepers' stamp leaves the two gens disagreeing (detected), never
      // agreeing around stale keepers (missed); the stamp RECORDS the
      // keeper binding so a second keeper table fails loudly above
      if (stamping) {
        lease.verify(); writeGen(spark, labelsName, cid, Some(keepersName))
      }
      lease.verify(); save(frozenLabels, labelsName, nBuckets)
      lease.verify(); saveKeepers(frozenKeepers, keepersName, nBuckets)
      if (stamping) { lease.verify(); writeGen(spark, keepersName, cid) }
    }
  }

  /** Repair path for the labels-ahead crash window: re-derive the
    * keeper table from the committed labels + the corpus sizes — ONE
    * q262 aggregation (no re-clustering, no sketching). On a
    * stamp-managed store the repaired keepers adopt the labels'
    * generation, so the stamp gate re-opens. */
  def rebuildKeepers(spark: SparkSession, labelsName: String,
      keepersName: String, docs: DataFrame, nBuckets: Int = 8): Unit = {
    // a repair must not quietly re-bind the store: rebuilding a keeper
    // table the labels' stamp is NOT bound to is the shared-labels
    // misuse, not a crash repair
    requireBinding(spark, labelsName, keepersName)
    saveKeepers(Dedup.dedupOutputFrom(load(spark, labelsName), docs),
      keepersName, nBuckets)
    readGen(spark, labelsName).foreach(writeGen(spark, keepersName, _))
  }

  // ---- ONLINE keeper maintenance between batch commits -------------

  /** q269's PRODUCTION form over STORED relations — the upgrade-event
    * feed a daily ingest computes between batch commits: only the
    * arriving batch is sketched (the q90 contract); the stored band
    * index, labels, and keeper table are table reads. Same assignment
    * rule as the streaming gate (min verified stored label) and the
    * same q262 struct-key upgrade predicate as `Dedup.keeperUpgrades`
    * (spec-pinned equal on a shared split) — that query form instead
    * REBUILDS the stored closure in-query, the oracle convention
    * StoreBench prices this against. Feed [[keeperOverrides]] →
    * [[servingKeepers]]. */
  def upgradeEvents(spark: SparkSession, labelsName: String,
      sketchName: String, keepersName: String, newDocs: DataFrame,
      threshold: Double): DataFrame = {
    // same gate as updateWithKeepers: in the labels-ahead window the
    // keeper inner join below would silently emit no events for the
    // affected clusters — refuse loudly instead (round-12 ADVICE)
    consistencyGate(spark, labelsName, keepersName, spark.table(keepersName))
    val (bands, sets) = SketchStore.load(spark, sketchName)
    val labels = load(spark, labelsName)
      .select(col("doc_id").as("doc_old"), col("cluster_id"))
    val assigned = Dedup
      .incrementalNearDupStored(bands, sets, newDocs, threshold)
      // retried batches may already be in the stored index: a doc
      // probing its own sketch is not an upgrade witness
      .where(col("doc_new") =!= col("doc_old"))
      .join(labels, "doc_old")
      .groupBy(col("doc_new"))
      .agg(min(col("cluster_id")).as("cluster_id"))
    assigned
      .join(newDocs.select(col("doc_id").as("doc_new"),
        col("n_chars").cast("long").as("n_chars_new")), "doc_new")
      .join(spark.table(keepersName).select(col("cluster_id"),
        col("keep_id"), col("n_chars_kept").cast("long").as("n_chars_kept")),
        "cluster_id")
      .where(struct(col("n_chars_new"), -col("doc_new")) >
        struct(col("n_chars_kept"), -col("keep_id")))
      .select(col("cluster_id"), col("keep_id").as("old_keep_id"),
        col("doc_new").as("new_keep_id"),
        col("n_chars_kept").as("n_chars_old"), col("n_chars_new"))
  }

  /** Fold q269 upgrade events (batch `Dedup.keeperUpgrades` rows or a
    * `streamingKeeperUpgrades` micro-batch) into ONE override row per
    * cluster — the best arrival under the q262 key. Events carry no
    * membership deltas (the arriving doc is not in the stored labels
    * yet), so an online apply CANNOT update the q262 table in place
    * without breaking its Σkept+dropped ≡ member-chars reconciliation;
    * the honest contract is an OVERRIDE relation consulted at serving
    * time and superseded by the next q272 batch commit. */
  def keeperOverrides(events: DataFrame): DataFrame =
    events.groupBy(col("cluster_id"))
      .agg(max_by(
        struct(col("new_keep_id").as("keep_id"),
          col("n_chars_new").as("n_chars_kept")),
        struct(col("n_chars_new"), -col("new_keep_id"))).as("k"))
      .select(col("cluster_id"), col("k.keep_id").as("override_keep_id"),
        col("k.n_chars_kept").as("override_n_chars"))

  /** The SERVING keeper view: stored q262 rows with any online
    * override overlaid — what a retrieval layer reads between batch
    * commits so a late-arriving longer member is served immediately.
    * One cluster-keyed left join; the override side is bounded by the
    * day's upgrade count. Spec-pinned: after folding a day's events,
    * the served (cluster → keeper) mapping equals the next q272 batch
    * commit's, for every cluster the batch does not MERGE (a merge
    * changes cluster identity itself and is inherently a batch-commit
    * event — documented, not patched online). */
  def servingKeepers(storedKeepers: DataFrame,
      overrides: DataFrame): DataFrame =
    storedKeepers.join(overrides, Seq("cluster_id"), "left_outer")
      .select(
        coalesce(col("override_keep_id"), col("keep_id")).as("keep_id"),
        col("cluster_id"), col("n_members"),
        coalesce(col("override_n_chars"), col("n_chars_kept"))
          .as("n_chars_kept"),
        col("override_keep_id").isNotNull.as("overridden"))

  /** [[servingKeepers]] with the ONLINE STALENESS FLAG: q275
    * merge-pending rows (batch `Dedup.mergePending` or
    * `streamingMergePending` output — same schema, spec-pinned equal)
    * mark every cluster whose IDENTITY the next batch commit will
    * change — both the absorbed clusters and the min-label cluster
    * absorbing them (its membership grows, so its keeper may change
    * too). A keeper override cannot repair that (the documented
    * batch-commit contract); the flag lets a serving layer route
    * around or re-verify reads on exactly those clusters instead of
    * trusting a row that is provably about to be rewritten. One
    * cluster-keyed left join; the pending side is bounded by the
    * day's merge-witness count. */
  def servingKeepers(storedKeepers: DataFrame, overrides: DataFrame,
      mergePending: DataFrame): DataFrame =
    servingKeepers(storedKeepers, overrides)
      .join(
        mergePending
          .select(explode(array(col("cluster_id"), col("merge_into")))
            .as("cluster_id"))
          .distinct()
          .withColumn("merge_pending", lit(true)),
        Seq("cluster_id"), "left_outer")
      .select(col("keep_id"), col("cluster_id"), col("n_members"),
        col("n_chars_kept"), col("overridden"),
        coalesce(col("merge_pending"), lit(false)).as("merge_pending"))
}
