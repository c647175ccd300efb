package graft.sources

import org.apache.spark.sql.{DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.InvertedIndex

/** The inverted index as a PERSISTED artifact: a letter-partitioned
  * parquet table of `(word, df, postings)` — the durable analogue of
  * the reference's 26 text files (R16, `main.c++:231-266`), but
  * columnar, splittable, and predicate-prunable.
  *
  * Point lookups read 1/26th of the data via partition pruning (the
  * `letter=` directory) plus a pushed word filter inside it; at 100 TB
  * the index is built once and every doc-set query afterwards touches
  * only the partitions it names. */
object IndexStore {

  /** Build and persist the index, partitioned by first letter. */
  def save(docs: DataFrame, path: String): Unit =
    InvertedIndex.postingsUnordered(docs)
      .withColumn("letter", substring(col("word"), 1, 1))
      .write.mode("overwrite")
      .partitionBy("letter")
      .parquet(path)

  def load(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Posting list for one word — partition-pruned to its letter
    * directory, word filter pushed into the parquet scan. */
  def lookup(index: DataFrame, word: String): DataFrame =
    index
      .where(col("letter") === word.substring(0, 1) && col("word") === word)
      .select("word", "df", "postings")

  /** Documents containing the word, one row per doc id. */
  def docsWith(index: DataFrame, word: String): DataFrame =
    lookup(index, word)
      .select(explode(col("postings")).as("doc_id"))
      .orderBy("doc_id")

  /** Build and persist the POSITIONAL index (q95's relation for the
    * whole vocabulary): letter-partitioned parquet of
    * `(word, doc_id, positions ARRAY<BIGINT>)`. The typed array stays
    * in storage — unlike the oracle-facing q95 string shape — because
    * the consumers (`phraseSearchStored`) re-explode it. Same
    * pruning story as [[save]]: a phrase query reads only the letter
    * directories its words name, with the word filter pushed into the
    * scan. */
  def savePositional(docs: DataFrame, path: String): Unit =
    InvertedIndex.positionalLists(docs)
      .withColumn("letter", substring(col("word"), 1, 1))
      .write.mode("overwrite")
      .partitionBy("letter")
      .parquet(path)

  def loadPositional(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** BUCKETED persistence for the positional index: a catalog table
    * bucketed + sorted on the MERGE key `(word, doc_id)` (and still
    * letter-partitioned for point-lookup pruning). The daily
    * `mergePositional` full-outer-joins the stored index with a new
    * batch on exactly that key — with the bucket layout matching, the
    * stored side enters the join with NO exchange (and, with the
    * matching sortBy, no sort): the merge cost is ∝ the batch, never a
    * reshuffle of the 100 TB stored index. `spark.read.parquet` cannot
    * carry bucket metadata, hence the table form; StorageSpec pins the
    * exchange-free plan and bucketed ≡ path-stored results. */
  def savePositionalBucketed(docs: DataFrame, table: String,
      nBuckets: Int = 8): Unit =
    InvertedIndex.positionalLists(docs)
      .withColumn("letter", substring(col("word"), 1, 1))
      .write.mode("overwrite")
      .partitionBy("letter")
      .bucketBy(nBuckets, "word", "doc_id").sortBy("word", "doc_id")
      .saveAsTable(table)

  def loadPositionalTable(spark: SparkSession, table: String): DataFrame =
    spark.table(table)

  /** Exact-phrase search served FROM the stored positional index —
    * the join formulation the q96 oracle states, run engine-side: one
    * word-filtered posting fetch per phrase slot (letter-pruned +
    * word-pushed scans of the stored relation, never the corpus),
    * re-exploded to (doc_id, pos), then `len(phrase)-1` equi-joins on
    * `(doc_id, pos + i)`. PositionalIndexSpec pins this ≡ the
    * single-pass window form over the raw corpus. Scale: cost ∝ the
    * fetched posting lists; the corpus is not touched, which is the
    * point of persisting the index. */
  def phraseSearchStored(index: DataFrame, phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phrase must have at least one word")
    // `take(1)` (not substring) so an empty-string phrase word builds a
    // never-matching letter filter and the result is EMPTY — the same
    // answer InvertedIndex.phraseSearch gives (empty words never
    // survive its token filter), instead of a plan-build crash
    val legs = phrase.zipWithIndex.map { case (w, i) =>
      index
        .where(col("letter") === w.take(1) && col("word") === w)
        .select(col("doc_id"), explode(col("positions")).as("pos"))
        .select(col("doc_id"), (col("pos") - i).as("start"))
    }
    legs.reduce((a, b) => a.join(b, Seq("doc_id", "start")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_matches"))
      .orderBy("doc_id")
  }

  /** Incremental ingest for the STORED positional index: merge the
    * loaded artifact with a new batch's positional lists WITHOUT
    * re-tokenizing the stored corpus — the q105 merge
    * (`InvertedIndex.mergePositionalSides`, the oracle-proven shape)
    * applied to the persisted relation, letter recomputed so the
    * result can be written back with the same partitioning.
    * RetrievalSpec pins save → merge ≡ rebuild-from-scratch. */
  def mergePositional(index: DataFrame, newDocs: DataFrame): DataFrame =
    InvertedIndex.mergePositionalSides(
      index.select(col("word"), col("doc_id"), col("positions").as("p_old")),
      InvertedIndex.positionalLists(newDocs)
        .select(col("word"), col("doc_id"), col("positions").as("p_new")))
      .withColumn("letter", substring(col("word"), 1, 1))

  /** One word's `(doc_id, pos)` rows fetched from the stored positional
    * index — letter-pruned, word-pushed, positions re-exploded. */
  private def fetchPositions(index: DataFrame, w: String): DataFrame =
    index
      .where(col("letter") === w.take(1) && col("word") === w)
      .select(col("doc_id"), explode(col("positions")).as("pos"))

  /** Proximity search served FROM the stored positional index: two
    * letter-pruned posting fetches into the SAME blocked pair stage as
    * the corpus form (q97) — the corpus is never touched. Spec pins
    * stored ≡ direct. */
  def proximitySearchStored(index: DataFrame, w1: String, w2: String,
      window: Int): DataFrame =
    InvertedIndex.proximityPairs(
      fetchPositions(index, w1), fetchPositions(index, w2), window)

  // ---- DataSource V2 surface over the R16 text artifact ----------------

  /** The R16 text index as a TABLE through the custom DSv2 source
    * ([[IndexTextSource]]): `(word, df, postings)` with word-predicate
    * file pruning and column pruning at the source. */
  def readIndexTable(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("graft-index").load(dir)

  /** WRITE the index artifact through the DSv2 source (the V2 commit
    * protocol: staged attempts, all-or-nothing publish, overwrite
    * clears only on success). The R16 layout discipline — same word on
    * one task, `df↓ word↑` within — is declared by the WRITE itself
    * (`RequiresDistributionAndOrdering` in `IndexTextWriteBuilder`),
    * so Spark plans the one clustering shuffle + sort and this helper
    * just hands over rows; every artifact lands grammar-ordered and
    * `_GRAFT_SORTED`. */
  def writeIndexTable(postings: DataFrame, dir: String): Unit =
    postings
      .select(col("word"), col("df"),
        col("postings").cast("array<bigint>").as("postings"))
      .write.format("graft-index").mode("overwrite").save(dir)

  /** Materialize-once cache of the R16 text index for a corpus dir —
    * q160's build step. Keyed by [[Sidecar.storeArtifactDir]]:
    * sanitized path + a (path, length, mtime) fingerprint of the source
    * parquet folded with graft's code stamp, so neither a regenerated
    * same-path corpus nor a changed build can serve a stale index. The
    * `_GRAFT_READY` marker is written only after `writeIndex`'s
    * post-write empty-letter touch-up, so a concurrent reader never
    * observes a half-published artifact. */
  def textIndexFor(spark: SparkSession, sfDir: String): String =
    synchronized {
      val out = artifactDir("textindex", sfDir)
      val ready = java.nio.file.Paths.get(out, "_GRAFT_READY")
      if (!java.nio.file.Files.exists(ready)) {
        InvertedIndex.writeIndex(Tables(spark, sfDir, "documents"), out)
        java.nio.file.Files.createFile(ready)
      }
      backfillSortedMarker(out)
      out
    }

  /** Materialize-once index artifact built through the DSV2 WRITER
    * (q166's build step) — same fingerprint keying as [[textIndexFor]],
    * but the artifact is produced by the V2 commit protocol
    * (`writeIndexTable`) instead of the path sink, so the oracle gate
    * downstream proves the writer end-to-end. The committer itself
    * publishes `_GRAFT_READY` last. */
  def dsv2IndexFor(spark: SparkSession, sfDir: String): String =
    synchronized {
      val out = artifactDir("dsv2idx", sfDir)
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(out, "_GRAFT_READY")))
        writeIndexTable(
          InvertedIndex.postingsUnordered(Tables(spark, sfDir, "documents")), out)
      backfillSortedMarker(out)
      out
    }

  /** Artifacts cached by earlier library versions predate the
    * `_GRAFT_SORTED` marker; both builders above sort by construction,
    * so stamping it on a ready artifact is truthful — and keeps their
    * top-N pushdown alive across the version boundary. */
  private def backfillSortedMarker(out: String): Unit = {
    val m = java.nio.file.Paths.get(out, IndexTextSource.SortedMarker)
    if (java.nio.file.Files.exists(java.nio.file.Paths.get(out, "_GRAFT_READY"))
        && !java.nio.file.Files.exists(m))
      java.nio.file.Files.createFile(m)
  }

  // ---- Incremental maintenance: LSM-style deltas + compaction --------
  //
  // The reference's artifact is batch-only: new documents mean a full
  // rebuild (`main.c++` has no update path). Here new documents land as
  // DELTA epochs — each a complete mini-artifact under `_delta_<epoch>/`
  // written through the same V2 commit protocol — and reads merge them:
  //
  //   write base ──► _delta_1 ──► _delta_2 ──► … ──► compact ──► base'
  //
  // The `_`-prefix keeps delta dirs invisible to the plain base scan
  // (the source only lists `letter=*`), so base-only readers are never
  // half-merged. Merging is UNION of posting sets per word — the merge
  // of disjoint re-index epochs is exact, and re-merging a delta that
  // survived a crashed compaction is a no-op (idempotent recovery).
  //
  // Cost model: a word's base and delta rows share its letter bucket,
  // so the merge is per letter and needs no exchange. A merged read is
  // ONE scan ([[IndexMergedTable]]) whose tasks each take whole letters
  // — at most one task per letter — and union, inside the reader, the
  // postings of exactly the words a delta touches; every other base
  // row streams through as read. A compaction is that scan plus the
  // writer's own clustering exchange: two jobs.

  /** Append one delta epoch: a full mini-artifact via the V2 writer
    * (staged, all-or-nothing, ready-marked). */
  def writeIndexDelta(postings: DataFrame, dir: String, epoch: Long): Unit =
    writeIndexTable(postings, s"$dir/_delta_$epoch")

  /** Delta directories in epoch order (only READY ones — a delta whose
    * commit never published is invisible, like its base counterpart). */
  def listDeltas(spark: SparkSession, dir: String): Seq[String] = {
    val base = new org.apache.hadoop.fs.Path(dir)
    val fs = StoreFs.of(base, spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(base)) Nil
    else fs.listStatus(base).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("_delta_"))
      .flatMap(s => s.getPath.getName.stripPrefix("_delta_")
        .toLongOption.map(e => (e, s.getPath))) // ignore non-epoch dirs
      .filter { case (_, p) => fs.exists(
        new org.apache.hadoop.fs.Path(p, "_GRAFT_READY")) }
      .sortBy(_._1)
      .map(_._2.toString)
  }

  /** The up-to-date index: base ∪ the READY deltas with per-word
    * posting-set union, as one `graft-index` merged scan (one job; no
    * exchange, no aggregate). Each task loads one letter's delta rows
    * at a time, streams that letter's base files and unions postings
    * only for the words a delta touches; delta-only words come last.
    * Memory: one letter's delta rows and the base postings of the words
    * they touch — the "deltas are small" contract. Word filters push
    * into the scan; (top-)N and `COUNT(*)` do not (a merged row is no
    * one file's row). With no delta this is the plain base scan. */
  def readMerged(spark: SparkSession, dir: String): DataFrame = {
    val deltas = listDeltas(spark, dir)
    if (deltas.isEmpty) readIndexTable(spark, dir)
    else GraftColumnBridge.read(spark, new IndexMergedTable(dir, deltas))
  }

  /** Fold the READY deltas into the base and retire them: the merged
    * scan of [[readMerged]] written back through the V2 writer — two
    * jobs, the scan and the writer's clustering exchange. Crash-safe at
    * each step: the writer stages and only truncates the old base at
    * commit (after the merged relation — which reads the old base — is
    * fully computed); the commit deletes exactly the epochs the scan
    * read, after publishing — an epoch published meanwhile stays, and a
    * failure before the deletion leaves epochs whose re-merge is a
    * semantic no-op. The rewrite is sorted, so compaction also RESTORES
    * top-N pushdown that unsorted deltas may have lacked.
    *
    * With `retainGeneration = true` the PRE-compaction base is first
    * snapshotted into `_gen_<n>/` — a complete, immutable mini-artifact
    * — before the rewrite, which is what makes TIME TRAVEL exact:
    * `VERSION AS OF n` (GraftCatalog) serves generation n as a plain
    * artifact read, no merge-inside-a-Scan, no unmerged state. The
    * `_`-prefix keeps generations invisible to base scans and the
    * delta stream alike. Snapshot-then-rewrite is crash-ordered: a
    * failure after the copy leaves an extra ready generation and the
    * intact current base — re-running compacts into generation n+1. */
  def compact(spark: SparkSession, dir: String,
      retainGeneration: Boolean = false): Unit = {
    val deltas = listDeltas(spark, dir)
    if (deltas.nonEmpty) {
      if (retainGeneration) snapshotGeneration(spark, dir)
      val merged = new IndexMergedTable(dir, deltas)
      GraftColumnBridge.overwrite(GraftColumnBridge.read(spark, merged), merged)
    }
  }

  /** Published (ready) generation numbers of an artifact, ascending. */
  def listGenerations(spark: SparkSession, dir: String): Seq[Long] = {
    val base = new org.apache.hadoop.fs.Path(dir)
    val fs = StoreFs.of(base, spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(base)) Nil
    else fs.listStatus(base).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("_gen_"))
      .filter(s => fs.exists(
        new org.apache.hadoop.fs.Path(s.getPath, "_GRAFT_READY")))
      .flatMap(_.getPath.getName.stripPrefix("_gen_").toLongOption)
      .sorted
  }

  /** Copy the current base (letter buckets + sort marker) into the
    * next `_gen_<n>/` and publish it with `_GRAFT_READY` LAST, so a
    * half-copied generation is never visible. A physical copy keeps
    * every generation self-contained (a generation never dangles on
    * files a later compaction rewrites); a deployment with a manifest
    * layer would record file references instead — same contract.
    * Cost: the copy creates one directory per letter and one file plus
    * `.crc` per letter file, through [[StoreFs]], which sets their
    * modes in-process — so it scales with the base's bytes, not with a
    * forked `chmod` per created path. */
  private def snapshotGeneration(spark: SparkSession, dir: String): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val base = new org.apache.hadoop.fs.Path(dir)
    val fs = StoreFs.of(base, conf)
    // number past every _gen_ dir, ready or not — a crashed partial
    // snapshot must not be overwritten into
    val next = fs.listStatus(base)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("_gen_"))
      .flatMap(_.getPath.getName.stripPrefix("_gen_").toLongOption)
      .foldLeft(-1L)(math.max) + 1
    val gen = new org.apache.hadoop.fs.Path(base, s"_gen_$next")
    fs.mkdirs(gen)
    fs.listStatus(base).foreach { s =>
      if (s.isDirectory && s.getPath.getName.startsWith("letter="))
        org.apache.hadoop.fs.FileUtil.copy(fs, s.getPath, fs,
          new org.apache.hadoop.fs.Path(gen, s.getPath.getName),
          false, conf)
    }
    val sorted = new org.apache.hadoop.fs.Path(base, IndexTextSource.SortedMarker)
    if (fs.exists(sorted))
      fs.create(new org.apache.hadoop.fs.Path(
        gen, IndexTextSource.SortedMarker), true).close()
    fs.create(new org.apache.hadoop.fs.Path(gen, "_GRAFT_READY"), true).close()
    next
  }

  /** Per-letter vocabulary profile computed WITHOUT a shuffle: the
    * scan reports its letter layout (`SupportsReportPartitioning` over
    * the `_letter` metadata column, one key per `letter=` directory),
    * so with V2 bucketing on Spark groups same-letter files into
    * key-grouped partitions and the whole aggregation is map-side —
    * storage-partitioned execution, the 26-bucket reduce phase of the
    * reference (`main.c++:180-227`) with the exchange planned away
    * (DataSourceV2Spec pins zero ShuffleExchange below the agg). */
  def letterProfileViaLayout(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    readIndexTable(spark, dir)
      .select(col(IndexTextSource.LetterCol).as("letter"), col("df"))
      .groupBy("letter")
      .agg(count(lit(1)).as("n_words"), sum(col("df")).as("sum_df"),
        max(col("df")).as("max_df"))
      .orderBy("letter")
  }

  /** Cross-artifact consistency join, STORAGE-PARTITIONED: both scans
    * report their letter layout, the join keys (letter, word) contain
    * the partition key, and the merge-hinted join plans with NO
    * Exchange on either side — Spark aligns the two artifacts'
    * key-grouped partitions directly (SPJ, the DSv2 successor of
    * bucketed-table joins). At 100 TB this is index ⋈ index without
    * shuffling either side: the layout both writers declared
    * (`RequiresDistributionAndOrdering`) is finally CONSUMED by the
    * planner on the read side. DataSourceV2Spec pins the plan. */
  def crossArtifactJoin(spark: SparkSession, dirA: String, dirB: String): DataFrame = {
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    // join keys (letter, word) STRICTLY CONTAIN the partition key
    // (letter): co-partitioning on the letter subset is sufficient for
    // correctness, so relax the exact-match default and let mismatched
    // letter sets (one side missing a letter) align by pushed values
    spark.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
    spark.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
    val a = readIndexTable(spark, dirA)
      .select(col(IndexTextSource.LetterCol).as("letter"), col("word"),
        col("df").as("df_text"))
    val b = readIndexTable(spark, dirB)
      .select(col(IndexTextSource.LetterCol).as("letter"), col("word"),
        col("df").as("df_v2"))
    a.hint("merge").join(b, Seq("letter", "word"))
      .select(col("word"), col("df_text"), col("df_v2"))
      .orderBy("word")
  }

  /** Materialize-once artifact for the DELETE query (q179): a full
    * index built through the V2 writer, then `DELETE FROM … WHERE word
    * LIKE 't%'` issued as CATALOG SQL — analysis admits it via
    * `canDeleteWhere` (word-shaped, exactly evaluable), and
    * `deleteWhere` rewrites only the `letter=t` files. The oracle
    * rebuilds the survivor set from the raw corpus, so a green row
    * gates the whole metadata-delete path end-to-end. */
  def deleteDemoFor(spark: SparkSession, sfDir: String): String = synchronized {
    val out = artifactDir("delidx", sfDir)
    val done = java.nio.file.Paths.get(out, "_DEMO_READY")
    if (!java.nio.file.Files.exists(done)) {
      writeIndexTable(
        InvertedIndex.postingsUnordered(Tables(spark, sfDir, "documents")), out)
      val f = new java.io.File(out)
      val cat = GraftCatalog.registerFor(spark, "graft_delcat", f.getParent)
      spark.sql(s"DELETE FROM $cat.`${f.getName}` WHERE word LIKE 't%'")
      java.nio.file.Files.createFile(done)
    }
    out
  }

  /** q184's artifact: a HALF-corpus index synced to the full corpus by
    * one catalog-SQL MERGE INTO (upsert changed words, insert new
    * ones, delete words the source no longer has) through the
    * row-level-operation rewrite — the DML answer to the LSM delta
    * path (q171): same end state, one declarative statement. */
  def mergeDemoFor(spark: SparkSession, sfDir: String): String = synchronized {
    val out = artifactDir("mergeidx", sfDir)
    val done = java.nio.file.Paths.get(out, "_DEMO_READY")
    if (!java.nio.file.Files.exists(done)) {
      val docs = Tables(spark, sfDir, "documents")
      writeIndexTable(
        InvertedIndex.postingsUnorderedSlice(docs, col("doc_id") % 2 === 0), out)
      InvertedIndex.postingsUnordered(docs)
        .select(col("word"), col("df"),
          col("postings").cast("array<bigint>").as("postings"))
        .createOrReplaceTempView("graft_merge_demo_src")
      val f = new java.io.File(out)
      val cat = GraftCatalog.registerFor(spark, "graft_mergecat", f.getParent)
      spark.sql(
        s"""MERGE INTO $cat.`${f.getName}` t
           |USING graft_merge_demo_src s
           |ON t.word = s.word
           |WHEN MATCHED THEN UPDATE SET df = s.df, postings = s.postings
           |WHEN NOT MATCHED THEN
           |  INSERT (word, df, postings) VALUES (s.word, s.df, s.postings)
           |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
      java.nio.file.Files.createFile(done)
    }
    out
  }

  /** Materialize-once demo artifacts for the delta family (q171/q172):
    * base = even doc_ids, one delta epoch = odd doc_ids — so the
    * merged (resp. compacted) index must equal a full-corpus build. */
  def deltaDemoFor(spark: SparkSession, sfDir: String): String =
    demoArtifact(spark, sfDir, "deltaidx", compactAfter = false)

  def compactDemoFor(spark: SparkSession, sfDir: String): String =
    demoArtifact(spark, sfDir, "compactidx", compactAfter = true)

  /** q183's artifact: compacted WITH generation retention, so
    * `VERSION AS OF 0` must serve the pre-compaction base (the
    * even-doc_id index) while the live table serves the full merge. */
  def timeTravelDemoFor(spark: SparkSession, sfDir: String): String =
    demoArtifact(spark, sfDir, "ttidx", compactAfter = true,
      retain = true)

  /** q261's artifact: a FOUR-quarter ingest history whose INTERIOR
    * generations bracket real row-level DML, so an (n, m) version diff
    * drives every change class through the oracle — the piece q258's
    * 0-vs-live pair could not reach (`removed` needs a DELETE between
    * the two snapshots; `shrunk` needs an UPDATE that rewinds a
    * posting list). Timeline (Qi = doc_id % 4 == i):
    *
    *  - base = index(Q0); delta Q1; compact(retain) → gen 0 = Q0,
    *    live = Q0∪Q1;
    *  - delta Q2; compact(retain) → gen 1 = Q0∪Q1, live = Q0∪Q1∪Q2;
    *  - `DELETE … WHERE word LIKE 't%'` (the q179 path) — the source
    *    of gen-1-vs-gen-2 `removed` rows;
    *  - `MERGE INTO … WHEN MATCHED THEN UPDATE` rewinding every
    *    s-word PRESENT IN Q0 to its Q0-only postings (a matched-only
    *    merge through the same row-level rewrite as q184) — the
    *    source of `shrunk` rows (df falls below gen 1's wherever the
    *    word also appeared in Q1);
    *  - delta Q3; compact(retain) → gen 2 = the post-DML state,
    *    live = gen 2 merged with Q3.
    *
    * Gen 1 vs gen 2 then exhibits all five classes: `removed`
    * (t-words, DELETEd between the snapshots), `added` (a-words —
    * DELETEd BEFORE gen 1's snapshot, re-added by Q2's delta merge
    * with Q2-only postings), `shrunk` (Q0-present s-words rewound
    * below their gen-1 df), `same` (w-words pinned by the MERGE to
    * exactly their gen-1 postings), `grown` (everything else Q2
    * touches). A tiny common-word vocabulary would otherwise yield
    * only `grown` — every class here is MANUFACTURED by DML, not
    * hoped for from the data. */
  def versionDiffDemoFor(spark: SparkSession, sfDir: String): String = synchronized {
    val out = artifactDir("vdidx", sfDir)
    val done = java.nio.file.Paths.get(out, "_DEMO_READY")
    if (!java.nio.file.Files.exists(done)) {
      val docs = Tables(spark, sfDir, "documents")
      // slices ride the full corpus's shared (doc_id, word) leaf — one
      // tokenize for the whole four-quarter history (round 15)
      def quarterPostings(i: Int) =
        InvertedIndex.postingsUnorderedSlice(docs, col("doc_id") % 4 === i)
      def asDelta(df: org.apache.spark.sql.DataFrame) = df
        .select(col("word"), col("df"),
          col("postings").cast("array<bigint>").as("postings"))
      writeIndexTable(quarterPostings(0), out)
      writeIndexDelta(quarterPostings(1), out, epoch = 1L)
      compact(spark, out, retainGeneration = true) // gen 0 = Q0
      val f = new java.io.File(out)
      val cat = GraftCatalog.registerFor(spark, "graft_vdgencat", f.getParent)
      // a-words out BEFORE gen 1's snapshot; Q2's delta re-adds them
      // with Q2-only postings → `added` in the gen-1-vs-gen-2 diff
      spark.sql(s"DELETE FROM $cat.`${f.getName}` WHERE word LIKE 'a%'")
      writeIndexDelta(quarterPostings(2), out, epoch = 2L)
      compact(spark, out, retainGeneration = true) // gen 1 = (Q0∪Q1) − a%
      // t-words out BETWEEN the diffed snapshots → `removed`
      spark.sql(s"DELETE FROM $cat.`${f.getName}` WHERE word LIKE 't%'")
      // matched-only MERGE: s-words rewound to Q0-only postings
      // (`shrunk`); w-words pinned to exactly their gen-1 Q0∪Q1
      // postings (`same`)
      asDelta(quarterPostings(0)
          .where(col("word").startsWith("s")))
        .unionByName(asDelta(
          InvertedIndex.postingsUnorderedSlice(docs, col("doc_id") % 4 <= 1)
            .where(col("word").startsWith("w"))))
        .createOrReplaceTempView("graft_vd_dml_src")
      spark.sql(
        s"""MERGE INTO $cat.`${f.getName}` t
           |USING graft_vd_dml_src s
           |ON t.word = s.word
           |WHEN MATCHED THEN UPDATE SET df = s.df, postings = s.postings"""
          .stripMargin)
      writeIndexDelta(quarterPostings(3), out, epoch = 3L)
      compact(spark, out, retainGeneration = true) // gen 2 = post-DML state
      java.nio.file.Files.createFile(done)
    }
    out
  }

  /** q258 — VERSION DIFF between two generations of a stored index:
    * the CDC read every lake table eventually needs ("what changed
    * between snapshot n and now?"), served entirely from the retained
    * generations q183's time travel already exposes — no change log,
    * no re-derivation from the corpus. One FULL OUTER join on the
    * word key classifies every vocabulary row: `added` (absent in the
    * old generation), `removed` (absent now — impossible on an
    * append-only index, present in the contract because a row-level
    * DELETE (q179) makes it reachable), `grown` / `shrunk` (df moved),
    * `same`. Shape: both sides are word-keyed index scans; the join
    * and the vocabulary-sized output are the whole cost — the corpus
    * is never touched. */
  def versionDiff(v0: DataFrame, cur: DataFrame): DataFrame =
    v0.select(col("word"), col("df").as("df_v0"))
      .join(cur.select(col("word"), col("df").as("df_now")),
        Seq("word"), "full_outer")
      .withColumn("change",
        when(col("df_v0").isNull, lit("added"))
          .when(col("df_now").isNull, lit("removed"))
          .when(col("df_now") > col("df_v0"), lit("grown"))
          .when(col("df_now") < col("df_v0"), lit("shrunk"))
          .otherwise(lit("same")))
      .select(col("word"),
        coalesce(col("df_v0"), lit(0L)).as("df_v0"),
        coalesce(col("df_now"), lit(0L)).as("df_now"),
        col("change"))
      .orderBy("word")

  private def demoArtifact(spark: SparkSession, sfDir: String,
      kind: String, compactAfter: Boolean,
      retain: Boolean = false): String = synchronized {
    val out = artifactDir(kind, sfDir)
    val done = java.nio.file.Paths.get(out, "_DEMO_READY")
    if (!java.nio.file.Files.exists(done)) {
      val docs = Tables(spark, sfDir, "documents")
      writeIndexTable(
        InvertedIndex.postingsUnorderedSlice(docs, col("doc_id") % 2 === 0), out)
      writeIndexDelta(
        InvertedIndex.postingsUnorderedSlice(docs, col("doc_id") % 2 === 1),
        out, epoch = 1L)
      if (compactAfter) compact(spark, out, retainGeneration = retain)
      java.nio.file.Files.createFile(done)
    }
    out
  }

  /** Every artifact here is built from the corpus's documents; the
    * key is [[Sidecar.storeArtifactDir]]'s (corpus state, code stamp). */
  private def artifactDir(kind: String, sfDir: String): String =
    Sidecar.storeArtifactDir(kind, sfDir, s"$sfDir/documents.parquet")
}
