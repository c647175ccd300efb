package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType

/** DSv2 WRITE path for the `graft-index` source: rows of the table's
  * own schema `(word, df?, postings)` are formatted into the R16 text
  * grammar (`word:[id1 id2 …]`) and land in `letter=<first-letter>`
  * directories — the same artifact [[IndexTextSource]] reads and the
  * reference emits (`main.c++:231-266`).
  *
  * The interesting part is the V2 COMMIT PROTOCOL, which is what makes
  * a 1000-executor write safe:
  *
  *  - every task writes its rows to files under a job-unique STAGING
  *    directory (`_graft_staging_<queryId>/<taskId>-<attempt>/letter=X`),
  *    so speculative / retried attempts can never collide or tear the
  *    published artifact;
  *  - task commit returns the attempt's file list as the commit
  *    MESSAGE; an aborted attempt deletes its own staging subtree;
  *  - job commit — driver-side, after every task succeeded — moves the
  *    committed attempts' files into place and drops the staging tree;
  *    job abort deletes staging, leaving the destination untouched.
  *
  * A task may receive words of many letters (it keeps one open file
  * per letter; the artifact accumulates one part-file per
  * (task, letter), which the reader treats as splits) — but the WRITE
  * declares its preferred shape via `RequiresDistributionAndOrdering`
  * (see [[IndexTextWriteBuilder.build]]): Spark clusters by `word` and
  * sorts `df↓ word↑` per task, so every path that reaches this writer
  * produces grammar-ordered, `_GRAFT_SORTED`-marked files with one
  * engine-planned shuffle. */
private[graft] class IndexTextWriteBuilder(path: String, queryId: String,
    schema: StructType, retiredDeltas: Option[Seq[String]] = None)
    extends WriteBuilder with SupportsTruncate {
  private var truncateFirst = false
  /** `mode("overwrite")` plans OverwriteByExpression(true) → truncate:
    * job commit clears the previous artifact before publishing. */
  override def truncate(): WriteBuilder = { truncateFirst = true; this }

  /** The write DECLARES the R16 layout discipline instead of leaving
    * it to callers (`RequiresDistributionAndOrdering`): Spark clusters
    * incoming rows by `word` (same word → one task) and sorts each
    * task `df↓ word↑` — so EVERY write path (CTAS, INSERT INTO, the
    * store helpers) lands grammar-ordered files and earns the
    * `_GRAFT_SORTED` marker, with exactly ONE shuffle planned by the
    * engine. When the written schema carries no `df` column the sort
    * degrades to `word↑` alone and the writer's per-file order
    * detector correctly withholds the marker. */
  override def build(): Write = new Write
      with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
    import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
    import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder}
    override def toBatch: BatchWrite =
      new IndexTextBatchWrite(path, queryId, schema, truncateFirst, retiredDeltas)
    /** Write-side observability, symmetric with the scan's: per-task
      * grammar lines and letter files written (SQL-metrics surface). */
    override def supportedCustomMetrics()
        : Array[org.apache.spark.sql.connector.metric.CustomMetric] =
      IndexMetrics.supportedWrite
    override def requiredDistribution(): Distribution =
      Distributions.clustered(Array(Expressions.column("word")))
    override def requiredOrdering(): Array[SortOrder] = {
      val df =
        if (schema.fieldNames.contains("df"))
          Seq(Expressions.sort(Expressions.column("df"), SortDirection.DESCENDING))
        else Nil
      (df :+ Expressions.sort(Expressions.column("word"), SortDirection.ASCENDING))
        .toArray
    }
  }
}

/** `retiredDeltas`: None for an ordinary write; for a compaction (an
  * overwrite of [[IndexMergedTable]]) the delta epochs its merged scan
  * read, which the commit deletes once the new base is published. */
private[graft] class IndexTextBatchWrite(path: String, queryId: String,
    schema: StructType, truncateFirst: Boolean,
    retiredDeltas: Option[Seq[String]] = None) extends BatchWrite {

  private val staging = s"$path/_graft_staging_$queryId"

  /** The session's Hadoop configuration, shipped to the tasks — a bare
    * `new Configuration()` on the executor would drop every
    * `spark.hadoop.*` setting (object-store credentials, endpoints)
    * that made the driver-side planning succeed. */
  private val hadoopConf = new org.apache.spark.util.SerializableConfiguration(
    org.apache.spark.sql.SparkSession.active.sparkContext.hadoopConfiguration)

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory =
    new IndexTextWriterFactory(path, staging, schema, queryId, hadoopConf)

  /** Publish: move every committed file from its attempt's staging dir
    * into the destination letter directory. Single driver-side pass —
    * renames, not copies (same filesystem); partial-failure window is
    * the rename loop, which is the same exposure every Hadoop-style
    * committer v1 accepts. Its filesystem, like the writer tasks', is
    * [[StoreFs]]'s: on local paths the 26 letter `mkdirs`, the marker
    * files and the tasks' part-files and `.crc` siblings get their
    * modes set in-process, so a write costs its renames and bytes,
    * not one forked `chmod` per created path.
    *
    * The WHOLE publish runs under the table's exclusive commit lease
    * (`_GRAFT_LOCK`, [[StoreLock]]): two simultaneous writers would
    * otherwise interleave truncate/rename sequences into a mixed
    * artifact from two jobs. The loser throws BEFORE touching the
    * destination; Spark then runs [[abort]], which deletes only the
    * loser's staging tree — its artifact never becomes visible. */
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val base = new Path(path)
    val fs = StoreFs.of(base, hadoopConf.value)
    val leaseMs = hadoopConf.value
      .getLong("graft.commit.lease.ms", StoreLock.DefaultLeaseMs)
    StoreLock.withLease(fs, new Path(base, "_GRAFT_LOCK"), leaseMs,
      wait = false) {
      commitLocked(fs, base, messages)
    }
  }

  private def commitLocked(fs: org.apache.hadoop.fs.FileSystem,
      base: Path, messages: Array[WriterCommitMessage]): Unit = {
    // sortedness of the artifact AFTER this commit: all new files
    // sorted AND (we replace everything | nothing was there | what was
    // there was already marked sorted)
    val newSorted = messages.forall {
      case m: IndexFilesCommitted => m.sorted
      case _ => false
    }
    val hadFiles = Option(fs.globStatus(new Path(base, "letter=*/part-*")))
      .exists(_.nonEmpty)
    val prevSorted = fs.exists(new Path(base, IndexTextSource.SortedMarker))
    val markSorted = newSorted && (truncateFirst || !hadFiles || prevSorted)
    if (truncateFirst) {
      // overwrite semantics: drop the previous artifact ONLY now, when
      // every task has succeeded — a failed job leaves the old index
      // intact (all-or-nothing at the artifact level). A user overwrite
      // drops every delta epoch too: they were unioned views over the
      // OLD base — serving them over a replaced corpus would resurrect
      // deleted documents. A compaction keeps them here and retires
      // only the epochs it merged, after the publish (below).
      fs.delete(new Path(base, "_GRAFT_READY"), false)
      fs.delete(new Path(base, IndexTextSource.SortedMarker), false)
      Option(fs.globStatus(new Path(base, "letter=*")))
        .foreach(_.foreach(d => fs.delete(d.getPath, true)))
      if (retiredDeltas.isEmpty)
        Option(fs.globStatus(new Path(base, "_delta_*")))
          .foreach(_.foreach(d => if (d.isDirectory) fs.delete(d.getPath, true)))
    }
    messages.foreach {
      case m: IndexFilesCommitted =>
        m.files.foreach { rel =>
          val src = new Path(staging, rel)
          // rel = "<taskUid>/letter=X/part-..." → drop the taskUid
          val dstRel = rel.substring(rel.indexOf('/') + 1)
          val dst = new Path(base, dstRel)
          fs.mkdirs(dst.getParent)
          if (!fs.rename(src, dst))
            throw new java.io.IOException(s"commit rename failed: $src -> $dst")
        }
      case other => throw new IllegalStateException(s"unexpected commit $other")
    }
    fs.delete(new Path(staging), true)
    // R16 parity: letters with no words still get their (empty)
    // directory, like the reference's 26 up-front ofstreams
    ('a' to 'z').foreach { l =>
      val dir = new Path(base, s"letter=$l")
      if (!fs.exists(dir)) fs.mkdirs(dir)
    }
    if (markSorted)
      fs.create(new Path(base, IndexTextSource.SortedMarker), true).close()
    else
      fs.delete(new Path(base, IndexTextSource.SortedMarker), false)
    fs.create(new Path(base, "_GRAFT_READY"), true).close()
    // a compaction's merged epochs now live in the base. An epoch
    // published after its scan was planned commits under its own
    // directory's lease, not this one, so it is kept, not dropped
    // unmerged. A crash before this loop leaves merged epochs whose
    // re-merge is a no-op (posting-set union is idempotent).
    retiredDeltas.foreach(_.foreach(d => fs.delete(new Path(d), true)))
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val fs = StoreFs.of(new Path(path), hadoopConf.value)
    fs.delete(new Path(staging), true)
  }
}

/** `sorted`: every file this task wrote was internally `df↓ word↑` —
  * the commit aggregates these into the artifact-level
  * `_GRAFT_SORTED` marker that licenses top-N pushdown at read. */
private[graft] case class IndexFilesCommitted(files: Seq[String],
    sorted: Boolean) extends WriterCommitMessage

private[graft] class IndexTextWriterFactory(path: String, staging: String,
    schema: StructType, queryId: String,
    hadoopConf: org.apache.spark.util.SerializableConfiguration)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] =
    new IndexTextDataWriter(staging, s"$partitionId-$taskId", partitionId,
      schema, queryId, Option(hadoopConf))
}

/** One open stream per letter seen; rows format as the R16 grammar in
  * arrival order (callers impose the df↓/word↑ order upstream). */
private[graft] class IndexTextDataWriter(staging: String, taskUid: String,
    partitionId: Int, schema: StructType, queryId: String = "q",
    hadoopConf: Option[org.apache.spark.util.SerializableConfiguration] = None)
    extends DataWriter[InternalRow] {

  private val wordAt = schema.fieldIndex("word")
  private val postingsAt = schema.fieldIndex("postings")

  private val fs = StoreFs.of(new Path(staging),
    hadoopConf.map(_.value)
      .getOrElse(new org.apache.hadoop.conf.Configuration()))
  private val streams =
    scala.collection.mutable.HashMap.empty[String, java.io.BufferedWriter]
  private var files = List.empty[String]
  // per-letter-file last (df, word): detects whether THIS task's files
  // honor the grammar's df↓ word↑ order (callers that pre-sort keep it;
  // arbitrary CTAS input typically won't — and then must not claim it)
  private val lastKey =
    scala.collection.mutable.HashMap.empty[String, (Long, String)]
  private var sorted = true

  private def streamFor(letter: String): java.io.BufferedWriter =
    streams.getOrElseUpdate(letter, {
      // the JOB-unique queryId rides into the FINAL file name: an
      // append job's renames must never collide with a previous
      // job's published part-files (partitionIds repeat across jobs;
      // POSIX rename would silently overwrite them)
      val rel = s"$taskUid/letter=$letter/part-$partitionId-$queryId.txt"
      files ::= rel
      val out = fs.create(new Path(staging, rel), true)
      new java.io.BufferedWriter(new java.io.OutputStreamWriter(out,
        java.nio.charset.StandardCharsets.UTF_8))
    })

  override def write(row: InternalRow): Unit = {
    require(!row.isNullAt(wordAt) && !row.isNullAt(postingsAt),
      "graft-index rows need non-null word and postings")
    val word = row.getUTF8String(wordAt).toString
    require(word.nonEmpty, "graft-index cannot store an empty word")
    val ids = row.getArray(postingsAt)
    val sb = new java.lang.StringBuilder(word.length + 2 + ids.numElements() * 7)
    sb.append(word).append(":[")
    var i = 0
    while (i < ids.numElements()) {
      if (i > 0) sb.append(' ')
      sb.append(ids.getLong(i))
      i += 1
    }
    sb.append(']')
    val letter = word.substring(0, 1)
    if (sorted) {
      val df = ids.numElements().toLong
      lastKey.get(letter).foreach { case (ldf, lw) =>
        if (df > ldf || (df == ldf && word < lw)) sorted = false
      }
      lastKey(letter) = (df, word)
    }
    val w = streamFor(letter)
    w.write(sb.toString)
    w.newLine()
    linesWritten += 1
  }

  private var linesWritten = 0L
  override def currentMetricsValues()
      : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] = Array(
    IndexMetrics.Task(IndexMetrics.LinesWritten, linesWritten),
    IndexMetrics.Task(IndexMetrics.FilesWritten, files.length.toLong))

  override def commit(): WriterCommitMessage = {
    streams.values.foreach(_.close())
    IndexFilesCommitted(files.reverse, sorted)
  }

  override def abort(): Unit = {
    streams.values.foreach(w => try w.close() catch { case _: Throwable => () })
    fs.delete(new Path(staging, taskUid), true)
  }

  override def close(): Unit = ()
}
