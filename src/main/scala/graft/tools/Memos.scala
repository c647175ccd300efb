package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{Dedup, Similarity}

/** The session tower registry: every shared intermediate relation an
  * operator builds once and serves to many queries (sketches,
  * signatures, pair sets, prints, BM25 scores, PQ codebooks, ...) is
  * one entry here, built on first use by [[get]].
  *
  * Key discipline: (tower name, session, analyzed-plan semanticHash,
  * file-state fingerprint, params). The semanticHash pins the query
  * (two `spark.read`s of one path canonicalize equal, so separate
  * consumers share an entry), the file-state fingerprint pins the data
  * version (a same-path corpus rewrite changes the key), and the params
  * pin the build configuration. Lazy (plan-audit) mode bypasses the
  * registry so Explain keeps the full tower; entries of stopped
  * sessions are evicted on each build lookup.
  *
  * A tower is registered by being built, so [[clearAll]] — the
  * measurement protocols' "price every build" reset — cannot miss one.
  * The registry is unbounded: entries live until [[clearAll]] or the
  * end of their session. */
object Memos {

  private type Key = (String, SparkSession, Int, Int, Any)

  private val towers = scala.collection.concurrent.TrieMap.empty[Key, Any]

  private def key(name: String, docs: DataFrame, params: Any): Key =
    (name, docs.sparkSession, docs.queryExecution.analyzed.semanticHash(),
      Similarity.fileStateHash(docs), params)

  /** The `name` tower over `docs` for `params`: built once per key by
    * `build` (getOrElseUpdate — a repeat call returns the same
    * instance); lazy (plan-audit) mode runs `lazyBuild` instead. */
  def get[V](name: String, docs: DataFrame, params: Any)(build: => V)(
      lazyBuild: => V): V =
    if (!Dedup.eagerMaterialize(docs)) lazyBuild
    else {
      towers.keys.filter(_._2.sparkContext.isStopped).foreach(towers.remove)
      towers.getOrElseUpdate(key(name, docs, params), build).asInstanceOf[V]
    }

  /** Non-building lookup under the [[get]] key: Some only when another
    * consumer has already built this tower in this session (always None
    * in lazy mode). For first-consumer fast paths — an operator that
    * answers from a cheaper one-pass plan when the shared tower does
    * not exist, but folds the tower rather than re-scan the corpus when
    * it does. */
  def peek[V](name: String, docs: DataFrame, params: Any): Option[V] =
    if (!Dedup.eagerMaterialize(docs)) None
    else towers.get(key(name, docs, params)).map(_.asInstanceOf[V])

  /** The name of every registered tower, one per entry. */
  def names: Seq[String] = towers.keys.toSeq.map(_._1)

  /** Drop every tower, plus LabelStore's count-gate stamps (not a
    * tower: it caches table create-times, but a warm gate would still
    * skip priced jobs). The towers' checkpoints are NOT unpersisted:
    * frames a caller derived from a tower before the clear read its
    * checkpoint blocks, and Spark releases the blocks once no frame
    * references them. */
  def clearAll(): Unit = {
    towers.clear()
    graft.sources.LabelStore.clearGateMemo()
  }

  /** Checkpoint a tower at FULL session parallelism. AQE coalesces a
    * small build shuffle to ~1 partition, and the leaf's accurate
    * (tiny) stats then let consumers plan BROADCAST joins with no
    * exchange anywhere — so a heavy downstream stage (q91's 3M-pair
    * Hamming verify) would inherit the leaf's single partition and run
    * single-threaded (measured: q91 2.6 → 5.1 s before this). An
    * explicit width-N repartition at build time is one extra tiny
    * shuffle, paid once per corpus. */
  def checkpointWide(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sessionState.conf.numShufflePartitions)
      .localCheckpoint(true)
}
