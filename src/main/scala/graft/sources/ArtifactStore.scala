package graft.sources

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame

/** PERSISTENT backing for the session artifact memos (round-7 verdict
  * #6): the sketch / signature / winnow-print / PQ-codebook / BPE
  * training builds die with the JVM when only the in-memory memo
  * holds them — a restarted pipeline re-sketches its whole corpus.
  * With `spark.graft.artifactDir` set, each memo build is routed
  * through a parquet artifact keyed by the SAME fingerprint as the
  * memo itself — (artifact name, input-plan semanticHash, file-state
  * fingerprint, parameter repr) — with load-or-build semantics: the
  * first session writes the artifact, every later session (or a
  * restarted driver) reads it back instead of re-running the corpus
  * tower. Unset (the default), everything behaves exactly as before —
  * session-scoped memo only.
  *
  * Key discipline is inherited from `graft.tools.Memos`: the
  * semanticHash pins the QUERY (a different source projection can
  * never alias), the file-state fingerprint pins the DATA VERSION
  * (path, length, mtime of every file — a same-path corpus rewrite
  * changes the key, so stale artifacts are unreachable rather than
  * merely invalidated), and the parameter repr pins the build
  * configuration. Superseded artifact directories are left in place
  * (they are keyed, so they can never be served wrongly); reclaiming
  * them is a retention policy, not a correctness concern.
  *
  * ORDER is deliberately not part of the contract: artifacts are
  * UNORDERED relations (per-doc sketches, signatures, prints, codes)
  * whose consumers aggregate or join — ordered outputs (q18's pair
  * list) are not artifact-backed. Writes repartition to the session
  * shuffle width so a read-back that feeds a heavy verify stage is
  * not a single-partition leaf (callers additionally checkpointWide
  * where width must survive AQE).
  *
  * Concurrency: same-JVM first callers serialize on the in-process
  * build lock; two DRIVERS racing on the same key serialize on the
  * cross-process commit lease ([[StoreLock]], wait-and-serve mode):
  * the loser polls until the winner releases, re-checks for the
  * completed artifact, and SERVES it instead of double-building — so
  * concurrent pipelines over one artifact dir build each key once.
  * Readers of a COMPLETED artifact (_SUCCESS present) never touch the
  * lease. */
object ArtifactStore {

  /** Observability counters (spec-asserted): artifact reads served /
    * builds executed while the store was enabled. */
  val hits = new AtomicLong(0L)
  val misses = new AtomicLong(0L)

  /** BUILD-DEFINITION version, part of every artifact key. The
    * in-memory memos never had cross-restart exposure, but a stored
    * artifact survives code changes — BUMP THIS whenever any routed
    * build's definition changes observable output (Hashing constants,
    * sketch widths, winnow parameters, trainer algebra), so old
    * artifacts become unreachable instead of silently stale. */
  val DefVersion = "v1"

  private def root(df: DataFrame): Option[String] =
    Option(df.sparkSession.conf.get("spark.graft.artifactDir", ""))
      .map(_.trim).filter(_.nonEmpty)

  /** The artifact directory for (name, keyDf, params) under `r` —
    * hex-encoded fingerprint components keep it filesystem-safe.
    * Params hash via MD5 of the full string (a 32-bit String.hashCode
    * is trivially collidable — "Aa"/"BB" — and a collision here would
    * SERVE THE WRONG ARTIFACT). */
  private def artifactPath(r: String, name: String, keyDf: DataFrame,
      params: String): String = {
    val sem = java.lang.Integer.toHexString(
      keyDf.queryExecution.analyzed.semanticHash())
    val fst = java.lang.Integer.toHexString(
      graft.operators.Similarity.fileStateHash(keyDf))
    val par = java.security.MessageDigest.getInstance("MD5")
      .digest(params.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString.take(16)
    s"$r/$name-$DefVersion-$sem-$fst-$par"
  }

  /** Per-directory build lock: the memos' getOrElseUpdate is
    * non-atomic for concurrent first callers (documented benign for
    * the in-memory case — both build, one wins), but two concurrent
    * OVERWRITE writes into one artifact directory are NOT benign
    * (one job deletes the dir under the other's commit). Serialize
    * same-key builds in-process and re-check existence inside the
    * lock; concurrent DRIVERS remain covered by the documented
    * single-writer-per-dir contract. */
  private val buildLocks =
    scala.collection.concurrent.TrieMap.empty[String, Object]
  private def locked[A](dir: String)(body: => A): A =
    buildLocks.getOrElseUpdate(dir, new Object).synchronized(body)

  private def exists(df: DataFrame, dir: String): Boolean = {
    val p = new Path(dir, "_SUCCESS")
    StoreFs.of(p, df.sparkSession.sessionState.newHadoopConf()).exists(p)
  }

  private def writeRead(df: DataFrame, dir: String): DataFrame = {
    val spark = df.sparkSession
    // width survives into the files (small-file packing on read can
    // still coalesce; width-sensitive callers checkpointWide the
    // read-back, same as they do the computed build)
    df.repartition(spark.sessionState.conf.numShufflePartitions)
      .write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  /** Load the artifact if present, else run `build`, persist it, and
    * return the read-back (a parquet leaf — lineage to the corpus is
    * gone either way). Identity pass-through when the store is
    * disabled. */
  /** Cross-process build lease beside the artifact dir (wait-and-
    * serve): acquired only on the build path — completed artifacts are
    * served without touching it. The post-acquire existence RE-CHECK
    * is the point: a loser that waited out another driver's build
    * finds the winner's _SUCCESS and serves it (one build per key
    * across processes, not per process). A winner whose build outlives
    * the staleness threshold is safe: the lease heartbeats while the
    * build runs, so waiters keep waiting (up to the SEPARATE
    * `spark.graft.lockWaitMs` deadline) instead of breaking a live
    * lease and double-building into the same directory. */
  private def crossLocked[A](keyDf: DataFrame, dir: String)(body: => A): A = {
    val spark = keyDf.sparkSession
    val lock = new Path(dir + ".lock")
    val fs = StoreFs.of(lock, spark.sessionState.newHadoopConf())
    StoreLock.withLease(StoreLock.backendFor(spark, fs), lock,
      StoreLock.leaseMs(spark), StoreLock.waitMs(spark), wait = true)(body)
  }

  def loadOrBuild(name: String, keyDf: DataFrame, params: String)(
      build: => DataFrame): DataFrame =
    root(keyDf) match {
      case None => build
      case Some(r) =>
        val dir = artifactPath(r, name, keyDf, params)
        locked(dir) {
          if (exists(keyDf, dir)) {
            hits.incrementAndGet()
            keyDf.sparkSession.read.parquet(dir)
          } else crossLocked(keyDf, dir) {
            if (exists(keyDf, dir)) {
              hits.incrementAndGet()
              keyDf.sparkSession.read.parquet(dir)
            } else {
              misses.incrementAndGet()
              writeRead(build, dir)
            }
          }
        }
    }

  /** Two-relation artifacts (PQ codebook + codes, BPE merges +
    * encoder): both sides live under one keyed directory, so they can
    * only ever be served as the pair they were trained as. `build`
    * runs at most once (builds that persist intermediates release
    * them at the call site, after consuming the returned pair). */
  def loadOrBuildPair(name: String, keyDf: DataFrame, params: String)(
      build: => (DataFrame, DataFrame)): (DataFrame, DataFrame) =
    root(keyDf) match {
      case None => build
      case Some(r) =>
        val dir = artifactPath(r, name, keyDf, params)
        val spark = keyDf.sparkSession
        def serve() = {
          hits.incrementAndGet()
          (spark.read.parquet(s"$dir/a"), spark.read.parquet(s"$dir/b"))
        }
        locked(dir) {
          if (exists(keyDf, s"$dir/b")) serve()
          else crossLocked(keyDf, dir) {
            if (exists(keyDf, s"$dir/b")) serve()
            else {
              misses.incrementAndGet()
              val (a, b) = build
              // a first, b last: the pair's completion marker is b's
              // _SUCCESS (checked above), so a half-written artifact is
              // never served
              (writeRead(a, s"$dir/a"), writeRead(b, s"$dir/b"))
            }
          }
        }
    }
}
