package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability}
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** The LSM-merged view of an index artifact: the base ∪ the given
  * READY delta epochs (`IndexStore.listDeltas` order), posting sets
  * unioned per word — served by ONE scan whose reader does the merge.
  *
  * Reading it is one job: every split holds whole letters (a word's
  * base and delta rows share its letter), so a task merges its letters
  * with no exchange and no aggregate. Overwriting it is compaction: the
  * written rows replace the base and the commit retires exactly the
  * epochs this view covers — an epoch published after the view was
  * planned is neither read nor deleted. Package-private: the relation
  * is reached through `IndexStore.readMerged`/`compact`, never by a
  * format name or an option. */
private[graft] class IndexMergedTable(path: String, deltas: Seq[String])
    extends Table with SupportsRead with SupportsWrite {
  override def name(): String = s"graft_index_merged($path)"
  override def schema(): StructType = IndexTextSource.Schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new IndexMergedScanBuilder(path, deltas)
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new IndexTextWriteBuilder(path, info.queryId(), info.schema(),
      retiredDeltas = Some(deltas))
}

/** Word filters and column pruning only: a (top-)N limit or a pushed
  * `COUNT(*)` would be answered per file, and a merged word's row is
  * not any one file's row, so neither is offered. */
private[graft] class IndexMergedScanBuilder(path: String, deltas: Seq[String])
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns {
  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = IndexTextSource.Schema
  /** Same contract as the base scan: every filter stays above the scan. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(IndexTextSource.usable); filters
  }
  override def pushedFilters(): Array[Filter] = pushed
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def build(): Scan = new IndexMergedScan(path, deltas, pushed, required)
}

/** One letter bucket's files: the base's and every delta epoch's. */
private[graft] case class IndexLetterFiles(base: Seq[IndexFilePartition],
    deltas: Seq[IndexFilePartition]) {
  def len: Long = (base ++ deltas).map(_.len).sum
}

/** A split of whole letters, bin-packed by bytes. */
private[graft] case class IndexLettersPartition(letters: Seq[IndexLetterFiles])
    extends InputPartition

private[graft] class IndexMergedScan(path: String, deltas: Seq[String],
    pushed: Array[Filter], requiredSchema: StructType)
    extends Scan with Batch with SupportsReportStatistics {

  override def readSchema(): StructType = requiredSchema
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-index merged $path + ${deltas.length} delta epoch(s), " +
      s"PushedFilters: [${pushed.mkString(", ")}], " +
      s"ReadSchema: ${requiredSchema.simpleString}"

  /** Letter buckets under the pushed filters' letter bound, listed once
    * per scan. At most one task per letter: the same parallelism bound
    * `letterProfileViaLayout` and the storage-partitioned join run at. */
  private lazy val (letters, totalFiles): (Seq[IndexLetterFiles], Int) = {
    val allowed = IndexTextSource.lettersOf(pushed)
    val listings = IndexTextSource.listArtifactFiles(path, allowed) +:
      deltas.map(IndexTextSource.listArtifactFiles(_, allowed))
    def byLetter(fs: Seq[IndexFilePartition]) =
      fs.groupBy(f => IndexTextSource.letterOfFile(f.file))
    val base = byLetter(listings.head._1.toSeq)
    val delta = byLetter(listings.tail.flatMap(_._1))
    val ls = (base.keySet ++ delta.keySet).toSeq.sorted.map(l =>
      IndexLetterFiles(base.getOrElse(l, Nil), delta.getOrElse(l, Nil)))
    (ls, listings.map(_._2).sum)
  }

  override def planInputPartitions(): Array[InputPartition] =
    IndexTextSource.pack(letters)(_.len)
      .map(ls => IndexLettersPartition(ls): InputPartition).toArray

  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(letters.map(_.len).sum)
    override def numRows(): java.util.OptionalLong =
      java.util.OptionalLong.empty()
  }

  override def supportedCustomMetrics(): Array[CustomMetric] =
    IndexMetrics.supported
  override def reportDriverMetrics(): Array[CustomTaskMetric] = {
    val planned = letters.map(l => l.base.length + l.deltas.length).sum
    Array(IndexMetrics.Task(IndexMetrics.PlannedFiles, planned),
      IndexMetrics.Task(IndexMetrics.PrunedFiles, totalFiles - planned))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new IndexMergedReaderFactory(pushed, requiredSchema, IndexTextSource.sessionConf())
}

private[graft] class IndexMergedReaderFactory(pushed: Array[Filter],
    requiredSchema: StructType,
    hadoopConf: org.apache.spark.util.SerializableConfiguration)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new IndexMergedPartitionReader(
      partition.asInstanceOf[IndexLettersPartition].letters, pushed,
      requiredSchema, hadoopConf)
}

/** The LSM merge, one letter at a time. Memory contract: a task holds
  * one letter's delta words with their postings, plus the base postings
  * of the words those deltas touch — the per-word sets the touched words'
  * union needs anyway, under the same "deltas are small" contract a
  * broadcast of every delta word relies on. Per letter:
  *
  *  1. load the delta rows into word → posting ids;
  *  2. stream the base files: an untouched word's row passes through as
  *     read; a touched word's ids join its entry;
  *  3. emit the touched and delta-only words, word-ascending, each with
  *     its sorted, distinct id union and `df` = the union's size.
  *
  * Pushed word filters drop lines before any id is parsed; a word
  * filter commutes with the per-word union, so filter-then-merge is
  * merge-then-filter. */
private[graft] class IndexMergedPartitionReader(letters: Seq[IndexLetterFiles],
    pushed: Array[Filter], requiredSchema: StructType,
    hadoopConf: org.apache.spark.util.SerializableConfiguration)
    extends PartitionReader[InternalRow] {

  private val fields = requiredSchema.fieldNames
  private val pending = letters.iterator
  private var rows: Iterator[InternalRow] = Iterator.empty
  private var row: InternalRow = _
  private var open: java.io.BufferedReader = null
  private var linesRead = 0L
  private var rowsSkipped = 0L

  override def next(): Boolean = {
    while (!rows.hasNext && pending.hasNext) rows = merge(pending.next())
    if (rows.hasNext) { row = rows.next(); true } else false
  }
  override def get(): InternalRow = row
  override def close(): Unit = if (open != null) open.close()
  override def currentMetricsValues(): Array[CustomTaskMetric] = Array(
    IndexMetrics.Task(IndexMetrics.LinesRead, linesRead),
    IndexMetrics.Task(IndexMetrics.RowsSkipped, rowsSkipped))

  private def merge(l: IndexLetterFiles): Iterator[InternalRow] = {
    val touched = scala.collection.mutable.HashMap.empty[String,
      scala.collection.mutable.ArrayBuilder.ofLong]
    l.deltas.iterator.flatMap(lines).foreach { case (w, ids) =>
      touched.getOrElseUpdate(w, new scala.collection.mutable.ArrayBuilder.ofLong)
        .addAll(parse(ids))
    }
    val untouched = l.base.iterator.flatMap(lines).flatMap { case (w, ids) =>
      touched.get(w) match {
        case Some(acc) => acc.addAll(parse(ids)); None
        case None => Some(rowOf(w, parse(ids)))
      }
    }
    // `++` takes its argument by name: the touched words are emitted
    // only after the base is exhausted, so every base id has joined
    untouched ++ touched.keys.toSeq.sorted.iterator.map(w =>
      rowOf(w, touched(w).result().distinct.sorted))
  }

  /** The grammar lines of one file as (word, ids text), pushed filters
    * applied; the stream closes when the lines run out. */
  private def lines(f: IndexFilePartition): Iterator[(String, String)] = {
    val p = new Path(f.file)
    val reader = new java.io.BufferedReader(new java.io.InputStreamReader(
      p.getFileSystem(hadoopConf.value).open(p),
      java.nio.charset.StandardCharsets.UTF_8))
    open = reader
    Iterator.continually(reader.readLine())
      .takeWhile { line =>
        if (line == null) { reader.close(); open = null }
        line != null
      }
      .flatMap { line =>
        val cut = IndexTextSource.grammarCut(line)
        if (cut < 0) None
        else {
          linesRead += 1
          val word = line.substring(0, cut)
          if (pushed.forall(IndexTextSource.wordMatches(_, word)))
            Some((word, line.substring(cut + 2, line.length - 1)))
          else { rowsSkipped += 1; None }
        }
      }
  }

  private def parse(ids: String): Array[Long] =
    if (ids.isEmpty) Array.emptyLongArray else ids.split(' ').map(_.toLong)

  private def rowOf(word: String, ids: Array[Long]): InternalRow =
    InternalRow.fromSeq(fields.toIndexedSeq.map {
      case "word" => UTF8String.fromString(word)
      case "df" => ids.length.toLong
      case "postings" => ArrayData.toArrayData(ids)
      case other => throw new IllegalArgumentException(
        s"graft-index merged scan has no column $other")
    })
}
