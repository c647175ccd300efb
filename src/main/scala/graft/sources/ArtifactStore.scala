package graft.sources

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Every on-disk artifact graft builds once and reuses across JVMs —
  * the letter-index stores, sidecar format copies, the vector store,
  * the synthesized 10× corpora and the session memos' persistent
  * backings — goes through ONE primitive, [[once]]: a keyed directory
  * that is built at most once and published by one completion marker.
  *
  * Two namers feed it:
  *
  *  - corpus-keyed artifacts ([[corpusDir]]) live under one root per
  *    corpus, `<tmpdir>/graft_artifacts/<sanitized sfDir>/`, as
  *    `<kind>_<hex>`. The hex folds the source's file-state
  *    fingerprint with [[CodeStamp]], so neither a regenerated corpus
  *    nor a changed graft build is served an artifact an older one
  *    wrote; [[clearCorpus]] forgets them all by deleting the root.
  *  - memo backings ([[loadOrBuild]], with `spark.graft.artifactDir`
  *    set) are keyed by (artifact name, code stamp, input-plan
  *    semanticHash, file-state fingerprint, parameter repr) — the
  *    `graft.tools.Memos` key plus the code that built it. Unset (the
  *    default), the memos stay session-scoped and nothing is stored.
  *
  * Superseded directories are left in place (they are keyed, so they
  * can never be served wrongly); reclaiming them is a retention
  * policy, not a correctness concern. Memo artifacts are UNORDERED
  * relations whose consumers aggregate or join; writes repartition to
  * the session shuffle width so a read-back is not a single-partition
  * leaf. */
object ArtifactStore {

  /** Artifacts served from disk / built, across every [[once]] call. */
  val hits = new AtomicLong(0L)
  val misses = new AtomicLong(0L)

  /** The one completion marker: written last, after `build` returns. */
  val DoneMarker = "_GRAFT_DONE"

  private val buildLocks =
    scala.collection.concurrent.TrieMap.empty[String, Object]

  /** Serve `dir` if its [[DoneMarker]] is present; otherwise build it
    * exactly once across threads and drivers. Same-JVM first callers
    * serialize on a per-directory lock; drivers serialize on a
    * cross-process [[StoreLock]] lease beside the directory
    * (`<dir>.lock`, wait-and-serve). The marker is checked again under
    * the lease, so a loser that waited out another driver's build
    * serves the winner's artifact. Still absent, whatever a crashed
    * attempt left at `dir` is deleted, `build(dir)` runs, and the
    * marker is written last — a half-built artifact is never served
    * and never built over. The lease heartbeats while `build` runs,
    * so a long build is never broken as stale. Completed artifacts
    * are served without touching either lock. */
  def once(spark: SparkSession, dir: String)(build: String => Unit): String = {
    val path = new Path(dir)
    val fs = StoreFs.of(path, spark.sessionState.newHadoopConf())
    val marker = new Path(path, DoneMarker)
    def done(): Boolean = fs.exists(marker) && { hits.incrementAndGet(); true }
    if (!done()) buildLocks.getOrElseUpdate(dir, new Object).synchronized {
      if (!done())
        StoreLock.withLease(StoreLock.backendFor(spark, fs),
          new Path(dir + ".lock"), StoreLock.leaseMs(spark),
          StoreLock.waitMs(spark), wait = true) {
          if (!done()) {
            misses.incrementAndGet()
            fs.delete(path, true)
            build(dir)
            fs.create(marker, true).close()
          }
        }
    }
    dir
  }

  /** `<tmpdir>/graft_artifacts/<sfDir with every non-alphanumeric run
    * as '_'>`: the one directory holding every artifact built from the
    * corpus at `sfDir`. The full sanitized path, not a 32-bit hash, so
    * two corpora can never share a root. */
  private[graft] def corpusRoot(sfDir: String): String =
    new java.io.File(sys.props("java.io.tmpdir"),
      "graft_artifacts/" + sfDir.replaceAll("[^A-Za-z0-9]+", "_")).getPath

  /** `<corpusRoot>/<kind>_<hex>`: where the `kind` artifact built from
    * `src` (a file or directory of the corpus at `sfDir`) persists. */
  private[graft] def corpusDir(kind: String, sfDir: String,
      src: String): String =
    s"${corpusRoot(sfDir)}/${kind}_" +
      java.lang.Integer.toHexString((sourceFingerprint(src), CodeStamp.stamp).hashCode)

  /** Delete every artifact built from the corpus at `sfDir`; returns
    * how many there were. Other corpora's roots and everything else in
    * tmpdir are left alone. */
  def clearCorpus(sfDir: String): Int = {
    val root = new java.io.File(corpusRoot(sfDir))
    val n = Option(root.listFiles()).map(_.count(_.isDirectory)).getOrElse(0)
    org.apache.hadoop.fs.FileUtil.fullyDelete(root)
    n
  }

  /** Order-stable hash of every file under `src` as (relative path,
    * length, mtime) — plain java.io, for the local corpora the
    * corpus-keyed artifacts are built from (a cluster deployment would
    * key on the catalog snapshot id instead). */
  private[graft] def sourceFingerprint(src: String): Int = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory)
        Option(f.listFiles()).map(_.toSeq.sortBy(_.getName).flatMap(walk))
          .getOrElse(Nil)
      else Seq(f)
    walk(new java.io.File(src))
      .map(f => (f.getPath.stripPrefix(src), f.length(), f.lastModified()))
      .hashCode()
  }

  private def root(df: DataFrame): Option[String] =
    Option(df.sparkSession.conf.get("spark.graft.artifactDir", ""))
      .map(_.trim).filter(_.nonEmpty)

  /** The memo artifact directory for (name, keyDf, params) under `r` —
    * hex-encoded fingerprint components keep it filesystem-safe.
    * Params hash via MD5 of the full string (a 32-bit String.hashCode
    * is trivially collidable — "Aa"/"BB" — and a collision here would
    * SERVE THE WRONG ARTIFACT). */
  private def artifactPath(r: String, name: String, keyDf: DataFrame,
      params: String): String = {
    val code = java.lang.Integer.toHexString(CodeStamp.stamp)
    val sem = java.lang.Integer.toHexString(
      keyDf.queryExecution.analyzed.semanticHash())
    val fst = java.lang.Integer.toHexString(
      graft.operators.Similarity.fileStateHash(keyDf))
    val par = java.security.MessageDigest.getInstance("MD5")
      .digest(params.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString.take(16)
    s"$r/$name-$code-$sem-$fst-$par"
  }

  private def write(df: DataFrame, dir: String): Unit =
    df.repartition(df.sparkSession.sessionState.conf.numShufflePartitions)
      .write.mode("overwrite").parquet(dir)

  /** Load the artifact if present, else run `build` and persist it;
    * either way the result is the read-back (a parquet leaf — lineage
    * to the corpus is gone). Identity pass-through when the store is
    * disabled. */
  def loadOrBuild(name: String, keyDf: DataFrame, params: String)(
      build: => DataFrame): DataFrame =
    root(keyDf) match {
      case None => build
      case Some(r) =>
        val spark = keyDf.sparkSession
        spark.read.parquet(
          once(spark, artifactPath(r, name, keyDf, params))(write(build, _)))
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
        val spark = keyDf.sparkSession
        val dir = once(spark, artifactPath(r, name, keyDf, params)) { d =>
          val (a, b) = build
          write(a, s"$d/a"); write(b, s"$d/b")
        }
        (spark.read.parquet(s"$dir/a"), spark.read.parquet(s"$dir/b"))
    }
}

/** graft's own code source — its jar, or its class directory under a
  * build tool — fingerprinted once per JVM by
  * [[ArtifactStore.sourceFingerprint]]. Part of every artifact key, so
  * a changed build never serves what an older one wrote. A `var` only
  * so a spec can stand in for a rebuilt jar. */
private[graft] object CodeStamp {
  @volatile var stamp: Int =
    Option(getClass.getProtectionDomain.getCodeSource)
      .map(cs => ArtifactStore.sourceFingerprint(
        new java.io.File(cs.getLocation.toURI).getPath))
      .getOrElse(0)
}
