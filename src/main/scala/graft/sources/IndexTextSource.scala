package graft.sources

import java.util.{Map => JMap}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.connector.catalog.{MetadataColumn, SupportsDelete, SupportsMetadataColumns, SupportsRead, SupportsRowLevelOperations, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, SortDirection, Transform, SortOrder => V2SortOrder}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar}
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{AlwaysTrue, EqualTo, Filter, In, IsNotNull, StringStartsWith}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 `TableProvider` serving the persisted R16 index — the
  * reference's own output artifact (26 letter-bucketed text files of
  * `word:[id1 id2 … idN]` lines, `main.c++:231-266`, as written by
  * `InvertedIndex.writeIndex`) — as a first-class Spark TABLE
  * `(word STRING, df BIGINT, postings ARRAY<BIGINT>)`:
  *
  * {{{ spark.read.format("graft-index").load(dir) }}}
  *
  * This elevates the reference's manifest-driven source
  * (`main.c++:306-352`, a driver-side file list feeding a scheduler) to
  * an engine API with the three behaviors a 100 TB scan needs:
  *
  *  - '''File pruning from pushed predicates''' (`SupportsPushDownFilters`):
  *    `word = 'x'` / `word IN (…)` / `word LIKE 'p%'` each bound the
  *    FIRST LETTER of every matching word, and the artifact is
  *    letter-bucketed — so `planInputPartitions` lists only the
  *    `letter=?` directories the predicates allow. A one-word lookup
  *    plans 1/26th of the files before a single byte is read (the
  *    DSv2 analog of `EventStore`'s parquet partition pruning).
  *  - '''Column pruning''' (`SupportsPushDownRequiredColumns`): a
  *    `select(word, df)` never materializes the posting arrays — for a
  *    common word at corpus scale that array IS the row's cost; the
  *    reader counts ids without building them.
  *  - '''Byte-sized splits''': the planned files are bin-packed into
  *    splits by Spark's own file-source rule (`FilePartition`: a split
  *    target from `spark.sql.files.maxPartitionBytes`,
  *    `openCostInBytes` and the leaf parallelism), so a scan pays one
  *    task per core-sized slice of bytes — 26 small letter files are a
  *    few tasks, a production index sharded into many large files
  *    still spreads over every core.
  *
  * Pushed word predicates are ALSO evaluated row-level in the reader
  * (cheap string compares, before any posting parse); Spark re-applies
  * every filter above the scan regardless (`pushFilters` returns its
  * whole input), so correctness never rests on the reader's filtering —
  * the pruning is pure scan-cost reduction, and `DataSourceV2Spec` pins
  * both the pruned file count and the source ≡ DataFrame-path results.
  */
class IndexTextSource extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {

  override def shortName(): String = "graft-index"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    IndexTextSource.Schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table = {
    val path = properties.get("path")
    require(path != null && path.nonEmpty,
      "graft-index source requires a path: spark.read.format(\"graft-index\").load(dir)")
    new IndexTextTable(path)
  }
}

object IndexTextSource {
  /** Artifact-level marker: present iff EVERY file honors the R16
    * `df↓ word↑` order. The sorting writers stamp it, the V2 commit
    * maintains it (an append of unsorted data removes it), and
    * `pushTopN` requires it — so a CTAS'd or hand-built unsorted
    * artifact simply keeps Spark's own sort instead of mis-answering
    * or failing. */
  val SortedMarker = "_GRAFT_SORTED"

  /** The session's Hadoop configuration packaged for the tasks — a
    * bare `new Configuration()` on the executor drops `spark.hadoop.*`
    * settings (object-store credentials, endpoints) that driver-side
    * planning relied on. Captured at reader-factory construction,
    * which runs on the driver. */
  private[sources] def sessionConf(): org.apache.spark.util.SerializableConfiguration =
    new org.apache.spark.util.SerializableConfiguration(
      org.apache.spark.sql.SparkSession.active.sparkContext.hadoopConfiguration)

  /** Driver-side planning check for [[SortedMarker]]. */
  private[sources] def artifactSorted(path: String): Boolean =
    try {
      val p = new Path(path, SortedMarker)
      p.getFileSystem(org.apache.spark.sql.SparkSession.active
        .sparkContext.hadoopConfiguration).exists(p)
    } catch { case scala.util.control.NonFatal(_) => false }

  /** The served schema; `df` is derived (posting-list length) so the
    * table matches `InvertedIndex.postings` column-for-column. */
  val Schema: StructType = StructType(Seq(
    StructField("word", StringType, nullable = false),
    StructField("df", LongType, nullable = false),
    StructField("postings", ArrayType(LongType, containsNull = false),
      nullable = false)))

  /** Metadata column names (`SupportsMetadataColumns`): the artifact's
    * physical layout surfaced to queries on request — `_letter` is the
    * R16 bucket the row lives in (the file's `letter=` directory, i.e.
    * the reference's reducer bucket, `main.c++:180-205`), `_file` the
    * absolute file path (the `input_file_name()` analog). Underscore
    * names keep them out of `SELECT *` and clash-free with data
    * columns, per the connector contract. */
  val LetterCol = "_letter"
  val FileCol = "_file"

  /** The `letter=x` component of an artifact file path ("" when the
    * file is not under a letter directory — never true for files this
    * source plans, which all come from `listArtifactFiles`). */
  private[sources] def letterOfFile(file: String): String = {
    val parent = new Path(file).getParent
    if (parent != null && parent.getName.startsWith("letter="))
      parent.getName.stripPrefix("letter=")
    else ""
  }

  /** The set of first letters a pushed `word` predicate permits, or
    * None when it does not constrain the letter (the conjunction of
    * all pushed predicates' sets prunes the letter directories). */
  private[sources] def allowedLetters(f: Filter): Option[Set[String]] = f match {
    case EqualTo("word", v: String) => Some(Set(v.take(1)))
    case In("word", vs) =>
      val strs = vs.collect { case s: String => s }
      // a non-string or null member means the filter can't bound letters
      if (strs.length == vs.length) Some(strs.map(_.take(1)).toSet) else None
    case StringStartsWith("word", p) if p.nonEmpty => Some(Set(p.take(1)))
    case _ => None
  }

  /** Row-level predicate for the pushed word filters (evaluated on the
    * parsed word BEFORE any posting-list work). */
  private[sources] def wordMatches(f: Filter, w: String): Boolean = f match {
    case EqualTo("word", v: String) => w == v
    case In("word", vs) => vs.exists {
      case s: String => w == s
      case _ => false
    }
    case StringStartsWith("word", p) => w.startsWith(p)
    case _ => true
  }

  /** Where a grammar line `word:[id1 id2 …]` splits into word and ids:
    * the index of its ":[" separator, or -1 when the line is not a
    * grammar line. Tokens normalize to lowercase ASCII letters, so ":["
    * cannot occur inside a word — the first occurrence is the separator. */
  private[sources] def grammarCut(line: String): Int = {
    val cut = line.indexOf(":[")
    if (cut > 0 && line.endsWith("]")) cut else -1
  }

  /** A filter [[wordMatches]] evaluates EXACTLY (no default-true
    * fallback) — the admission rule for DELETE, where matching must be
    * precise rather than merely conservative. `IsNotNull(word)` is
    * exact because served words are never null; `AlwaysTrue` (a bare
    * `DELETE FROM t`) matches every row. */
  private[sources] def deletable(f: Filter): Boolean = f match {
    case EqualTo("word", _: String) => true
    case In("word", _) => true // null/non-string members match no word
    case StringStartsWith("word", _) => true
    case IsNotNull("word") => true
    case _: AlwaysTrue => true
    case _ => false
  }

  /** Row-level DELETE over an artifact: rewrite only the files the
    * filters' letter bound allows (a word-bounded delete touches
    * 1/26th of the files before a byte is read — same pruning as the
    * scan), dropping exactly the grammar lines the conjunction
    * matches. Distributed: one task per affected file; each streams
    * its file once and rewrites it only if a line was dropped.
    * Relative line order is preserved, so the R16 `df↓ word↑` file
    * order (and the `_GRAFT_SORTED` marker's truth) survives. Empty
    * result files are kept — the reference creates letter files even
    * when empty (`main.c++:233`). */
  private[sources] def deleteMatching(root: String, filters: Array[Filter]): Unit = {
    val (files, _) = listArtifactFiles(root, lettersOf(filters))
    if (files.isEmpty) return
    val conf = sessionConf()
    val spark = org.apache.spark.sql.SparkSession.active
    spark.sparkContext
      .parallelize(files.map(_.file).toIndexedSeq, files.length)
      .foreach { f =>
        val path = new Path(f)
        val fs = path.getFileSystem(conf.value)
        val reader = new java.io.BufferedReader(new java.io.InputStreamReader(
          fs.open(path), java.nio.charset.StandardCharsets.UTF_8))
        val kept = new scala.collection.mutable.ArrayBuffer[String]()
        var dropped = 0
        try {
          var line = reader.readLine()
          while (line != null) {
            val cut = grammarCut(line)
            if (cut > 0 && filters.forall(wordMatches(_, line.substring(0, cut))))
              dropped += 1
            else kept += line
            line = reader.readLine()
          }
        } finally reader.close()
        if (dropped > 0) {
          // `.`-prefixed staging file is invisible to the lister; the
          // delete+rename publish is the same move the V2 committer makes
          val tmp = new Path(path.getParent, s".${path.getName}.deleting")
          val out = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
            fs.create(tmp, true), java.nio.charset.StandardCharsets.UTF_8))
          try kept.foreach { l => out.write(l); out.write("\n") }
          finally out.close()
          fs.delete(path, false)
          if (!fs.rename(tmp, path))
            throw new java.io.IOException(s"delete rewrite failed to publish $f")
        }
      }
  }

  /** A filter the source can use at all (file pruning or row-level). */
  private[sources] def usable(f: Filter): Boolean =
    allowedLetters(f).isDefined || (f match {
      case EqualTo("word", _) | In("word", _) | StringStartsWith("word", _) => true
      case _ => false
    })

  /** The conjunction of the filters' letter sets (None = unbounded). */
  private[sources] def lettersOf(filters: Array[Filter]): Option[Set[String]] = {
    val sets = filters.flatMap(allowedLetters)
    if (sets.isEmpty) None else Some(sets.reduce(_ intersect _))
  }

  /** One walk of an artifact root: (files planned under the allowed
    * letters, total file count) — the same listing a manifest/catalog
    * serves at scale. Shared by the batch scan and the delta-epoch
    * streaming source (a delta dir IS an artifact root). */
  private[sources] def listArtifactFiles(root: String,
      allowed: Option[Set[String]]): (Array[IndexFilePartition], Int) = {
    val base = new Path(root)
    val conf = org.apache.spark.sql.SparkSession.active
      .sparkContext.hadoopConfiguration
    val fs = base.getFileSystem(conf)
    if (!fs.exists(base)) (Array.empty, 0)
    else {
      val byLetter = fs.listStatus(base).iterator
        .filter(_.isDirectory)
        .filter(_.getPath.getName.startsWith("letter="))
        .map(d => (d.getPath.getName.stripPrefix("letter="),
          fs.listStatus(d.getPath)
            .filter(f => f.isFile && f.getLen > 0 &&
              !f.getPath.getName.startsWith("_") &&
              !f.getPath.getName.startsWith("."))))
        .toArray
      val planned = byLetter
        .filter { case (l, _) => allowed.forall(_.contains(l)) }
        .flatMap(_._2)
        .map(f => IndexFilePartition(f.getPath.toString, f.getLen))
      (planned, byLetter.map(_._2.length).sum)
    }
  }

  /** Bin-pack units of `len` bytes into splits with Spark's file-source
    * rule: `FilePartition.maxSplitBytes` (min of maxPartitionBytes and
    * the bytes per leaf-parallelism slot, each unit charged
    * `openCostInBytes` extra) and `getFilePartitions`' next fit over
    * the units largest first — the packing `FileSourceScanExec` gives
    * parquet, so a store of many small letter files runs a few tasks
    * rather than one per file. A unit is never split: a file because
    * the grammar is line-oriented and the (top-)N check is per file, a
    * letter because the merged scan unions a word's rows within it. */
  private[sources] def pack[T](units: Seq[T])(len: T => Long): Seq[Seq[T]] = {
    import org.apache.spark.paths.SparkPath
    import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
    val spark = org.apache.spark.sql.SparkSession.active
    val openCost = spark.sessionState.conf.filesOpenCostInBytes
    val maxSplit = FilePartition.maxSplitBytes(spark, units.map(len(_) + openCost).sum)
    // each unit rides Spark's rule as a pseudo-file named by its index
    val asFiles = units.indices.sortBy(i => -len(units(i))).map(i =>
      PartitionedFile(InternalRow.empty, SparkPath.fromPathString(s"/$i"), 0L,
        len(units(i))))
    FilePartition.getFilePartitions(spark, asFiles, maxSplit)
      .map(_.files.toSeq.map(f => units(f.filePath.toPath.getName.toInt)))
  }

  /** Does a pushed V2 top-N ordering match the artifact's OWN on-disk
    * order? The R16 grammar sorts every letter bucket `df↓ word↑`
    * (reference `main.c++:37-44,236`; both writers impose it via
    * `sortWithinPartitions`), so a query's `ORDER BY df DESC [, word
    * ASC] LIMIT n` is answerable from each file's FIRST n matching
    * lines. Accepted = exactly that prefix order (null ordering is
    * irrelevant: neither column is nullable). Anything else → not
    * pushed, Spark sorts above as usual. */
  private[sources] def topNMatchesFileOrder(orders: Array[V2SortOrder]): Boolean = {
    def isCol(o: V2SortOrder, name: String, dir: SortDirection): Boolean =
      o.direction() == dir && (o.expression() match {
        case nr: NamedReference => nr.fieldNames.sameElements(Array(name))
        case _ => false
      })
    orders.length match {
      case 1 => isCol(orders(0), "df", SortDirection.DESCENDING)
      case 2 => isCol(orders(0), "df", SortDirection.DESCENDING) &&
        isCol(orders(1), "word", SortDirection.ASCENDING)
      case _ => false
    }
  }
}

/** Custom scan metrics (Spark UI / SQLMetrics surface): what the
  * source's pruning actually SAVED — driver-side planned-vs-pruned
  * file counts, task-side lines parsed and rows dropped before any
  * posting-list work. The observability half of the pushdown story:
  * at 100 TB "did the pruning fire" must be readable off the query's
  * metrics, not inferred from wall-clock. */
private[graft] object IndexMetrics {
  /** One concrete ZERO-ARG class per metric: Spark's
    * `SQLAppStatusListener` aggregates DSv2 metrics by reflectively
    * constructing `metricType`'s class with `getConstructor()
    * .newInstance()` — a parameterized class throws
    * `NoSuchMethodException` inside the listener and the metric never
    * reaches the SQL UI (it also spams a SparkException stack trace
    * per query). Name/description are therefore hardcoded per class. */
  final class PlannedFilesMetric extends CustomSumMetric {
    override def name(): String = IndexMetrics.PlannedFiles
    override def description(): String = "index files planned (after letter pruning)"
  }
  final class PrunedFilesMetric extends CustomSumMetric {
    override def name(): String = IndexMetrics.PrunedFiles
    override def description(): String = "index files pruned by word predicates"
  }
  final class LinesReadMetric extends CustomSumMetric {
    override def name(): String = IndexMetrics.LinesRead
    override def description(): String = "index lines parsed"
  }
  final class RowsSkippedMetric extends CustomSumMetric {
    override def name(): String = IndexMetrics.RowsSkipped
    override def description(): String = "index rows dropped by pushed word predicates"
  }
  final class LinesWrittenMetric extends CustomSumMetric {
    override def name(): String = IndexMetrics.LinesWritten
    override def description(): String = "index lines written"
  }
  final class FilesWrittenMetric extends CustomSumMetric {
    override def name(): String = IndexMetrics.FilesWritten
    override def description(): String = "index letter files written"
  }
  final case class Task(n: String, v: Long) extends CustomTaskMetric {
    override def name(): String = n
    override def value(): Long = v
  }
  val PlannedFiles = "plannedIndexFiles"
  val PrunedFiles = "prunedIndexFiles"
  val LinesRead = "indexLinesRead"
  val RowsSkipped = "indexRowsSkipped"
  val LinesWritten = "indexLinesWritten"
  val FilesWritten = "indexFilesWritten"
  def supported: Array[CustomMetric] = Array(
    new PlannedFilesMetric, new PrunedFilesMetric,
    new LinesReadMetric, new RowsSkippedMetric)
  def supportedWrite: Array[CustomMetric] = Array(
    new LinesWrittenMetric, new FilesWrittenMetric)
}

private[graft] class IndexTextTable(path: String) extends Table
    with SupportsRead with org.apache.spark.sql.connector.catalog.SupportsWrite
    with SupportsMetadataColumns with SupportsDelete
    with SupportsRowLevelOperations {
  override def name(): String = s"graft_index($path)"
  override def schema(): StructType = IndexTextSource.Schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)

  /** Layout metadata on request: the row's R16 letter bucket and its
    * physical file (`input_file_name()` analog for a custom source). */
  override def metadataColumns(): Array[MetadataColumn] = Array(
    new MetadataColumn {
      override def name(): String = IndexTextSource.LetterCol
      override def dataType(): DataType = StringType
      override def isNullable: Boolean = false
      override def comment(): String = "R16 letter bucket (letter= directory)"
    },
    new MetadataColumn {
      override def name(): String = IndexTextSource.FileCol
      override def dataType(): DataType = StringType
      override def isNullable: Boolean = false
      override def comment(): String = "absolute path of the index file"
    })

  /** Metadata-level DELETE (`SupportsDelete`): accepted only for
    * word-shaped conjunctions this source can evaluate EXACTLY
    * (file-level letter pruning + row-level word matching) — anything
    * else returns false and the statement fails analysis instead of
    * over- or under-deleting. The rewrite drops matching grammar lines
    * in place; line order within a file is preserved, so the artifact's
    * `df↓ word↑` sort (and with it top-N pushdown) survives a delete. */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    filters.forall(IndexTextSource.deletable)
  override def deleteWhere(filters: Array[Filter]): Unit =
    IndexTextSource.deleteMatching(path, filters)

  /** Row-level DML (`SupportsRowLevelOperations`): MERGE INTO, UPDATE,
    * and the DELETEs [[canDeleteWhere]] refuses, as GROUP-BASED
    * (copy-on-write) rewrites where the rewrite group is the WHOLE
    * artifact — Spark reads every surviving/updated/inserted row
    * through the operation's scan and the paired write publishes the
    * replacement through the full V2 commit protocol (staged,
    * truncate-only-on-success, grammar order re-imposed by
    * `RequiresDistributionAndOrdering`, so DML output keeps top-N
    * pushdown). Division of labor: word-shaped DELETEs still take the
    * letter-pruned METADATA path (Spark's metadata-only optimization
    * folds the rewrite back into [[deleteWhere]] — spec-pinned by
    * byte-stable untouched letters); everything else pays one honest
    * artifact rewrite, the R16 analog of a copy-on-write table whose
    * partition is the table. */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder =
    () => new GraftRowLevelOperation(path, info.command())
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new IndexTextScanBuilder(path)
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    val s = info.schema()
    require(s.fieldNames.contains("word") && s.fieldNames.contains("postings"),
      s"graft-index writes need (word, postings) columns, got ${s.simpleString}")
    new IndexTextWriteBuilder(path, info.queryId(), s)
  }
}

/** The GROUP-BASED row-level operation: whole-artifact copy-on-write.
  * Its scan is a [[IndexTextScanBuilder]] in `rowLevel` mode — it
  * accepts NO pushed filters and ignores runtime filters, because with
  * truncate-replace semantics every unread row is a LOST row: the scan
  * must deliver the complete artifact to the rewrite. Its write is the
  * ordinary V2 committer pre-set to truncate: the replacement data
  * (carry-over + updated + inserted rows, computed by Spark's rewrite
  * plan) atomically supersedes the artifact on commit, and a failed
  * job leaves the old artifact intact. */
private[graft] class GraftRowLevelOperation(path: String,
    cmd: org.apache.spark.sql.connector.write.RowLevelOperation.Command)
    extends org.apache.spark.sql.connector.write.RowLevelOperation {
  override def command()
      : org.apache.spark.sql.connector.write.RowLevelOperation.Command = cmd
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new IndexTextScanBuilder(path, rowLevel = true)
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new IndexTextWriteBuilder(path, info.queryId(), info.schema())
      .truncate().asInstanceOf[IndexTextWriteBuilder]
  /** `_letter` must ride the rewrite: Spark's ReplaceDataExec only
    * uses the PROJECTING write task when a metadata projection exists
    * — with no required metadata attrs it hands the writer the raw
    * rewrite rows, `__row_operation` column included (the data columns
    * shift and the write corrupts). Requiring one (cheap, per-file
    * constant) metadata column routes every row through the data
    * projection, so the writer always sees exactly the table schema. */
  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array(Expressions.column(IndexTextSource.LetterCol))
  override def description(): String = s"graft-index $cmd (copy-on-write)"
}

private[graft] class IndexTextScanBuilder(path: String,
    rowLevel: Boolean = false) extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownLimit with SupportsPushDownTopN
    with SupportsPushDownAggregates {

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = IndexTextSource.Schema
  private var limit: Option[Int] = None
  private var orderedLimit = false
  private var countStar = false

  /** Accept the word-shaped filters (they prune files + rows at the
    * source) but return EVERY filter as still-to-be-evaluated — Spark
    * keeps a Filter above the scan, so the source's filtering is an
    * optimization, never load-bearing for correctness.
    *
    * In `rowLevel` mode nothing is accepted: a copy-on-write rewrite
    * must read the WHOLE artifact (a pruned file's rows would vanish
    * at the truncate-replace commit). */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    if (!rowLevel) pushed = filters.filter(IndexTextSource.usable)
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** PARTIAL limit pushdown (`isPartiallyPushed` stays true, so Spark
    * keeps the global limit): each file reader stops after its first n
    * surviving rows — for LIMIT-without-ORDER any n rows are a correct
    * answer, and the win is not parsing the posting tail of a 100 TB
    * artifact for a peek query. */
  override def pushLimit(n: Int): Boolean =
    if (rowLevel) false else { limit = Some(n); true }

  /** Top-N pushdown, legal ONLY when the artifact CLAIMS the grammar's
    * per-file `df↓ word↑` order (the `_GRAFT_SORTED` marker the
    * sorting writers stamp — an unsorted CTAS artifact lacks it and
    * keeps Spark's own sort), and double-checked line-by-line over the
    * consumed prefix at read — an in-prefix mis-sort under a lying
    * marker fails loudly rather than dropping rows. Partial: Spark
    * still merges the per-file prefixes. */
  override def pushTopN(orders: Array[V2SortOrder], n: Int): Boolean =
    if (!rowLevel && IndexTextSource.topNMatchesFileOrder(orders) &&
        IndexTextSource.artifactSorted(path)) {
      limit = Some(n); orderedLimit = true; true
    } else false

  /** Always PARTIAL (disambiguates the two inherited defaults, both
    * `true`): Spark keeps the global limit / final top-N merge; the
    * source only trims what each file reader parses. */
  override def isPartiallyPushed(): Boolean = true

  /** Global `COUNT(*)` pushdown — the "how big is the vocabulary"
    * query: each reader emits ONE row with its file's grammar-line
    * count, never materializing a word or parsing a posting; Spark
    * sums the per-file partials (partial pushdown, so this composes
    * with its own final aggregate). Accepted only bare: no group-by,
    * no other aggregates — and Spark only offers it when no residual
    * Filter sits above the scan, which (by this source's
    * never-load-bearing filter contract) means an UNfiltered scan. */
  /** Accepted forms: bare global `COUNT(*)`, and `COUNT(*) GROUP BY
    * _letter` — the letter IS the file's directory, so each reader
    * emits ONE (letter, line-count) row per file with no word
    * materialization and no posting parse; Spark's final aggregate
    * merges the per-file partials (and with the reported letter layout
    * it merges them WITHOUT a shuffle). */
  override def pushAggregation(agg: Aggregation): Boolean = {
    val groups = agg.groupByExpressions()
    val groupOk = groups.isEmpty || (groups.length == 1 && (groups(0) match {
      case nr: NamedReference =>
        nr.fieldNames.sameElements(Array(IndexTextSource.LetterCol))
      case _ => false
    }))
    val ok = !rowLevel && groupOk &&
      agg.aggregateExpressions().length == 1 &&
      agg.aggregateExpressions()(0).isInstanceOf[CountStar] &&
      limit.isEmpty
    if (ok) { countStar = true; countByLetter = groups.nonEmpty }
    ok
  }
  private var countByLetter = false
  override def supportCompletePushDown(agg: Aggregation): Boolean = false

  override def build(): Scan =
    new IndexTextScan(path, pushed, required, limit, orderedLimit, countStar,
      rowLevel, countByLetter)
}

private[graft] class IndexTextScan(path: String, val pushed: Array[Filter],
    requiredSchema: StructType, limit: Option[Int] = None,
    orderedLimit: Boolean = false, countStar: Boolean = false,
    rowLevel: Boolean = false, countByLetter: Boolean = false)
    extends Scan with Batch
    with SupportsReportStatistics with SupportsRuntimeFiltering
    with SupportsReportPartitioning {

  /** The artifact's layout, DECLARED (`SupportsReportPartitioning`):
    * rows are key-grouped by the `_letter` metadata column (a scan
    * serving `_letter` plans each file as its own split under one
    * `letter=` directory — [[IndexFilePartition]] carries the key via
    * `HasPartitionKey`). When a query reads
    * `_letter` and `spark.sql.sources.v2.bucketing.enabled` is on,
    * Spark groups same-letter splits and plans per-letter
    * aggregations/joins with NO Exchange — storage-partitioned
    * execution, the DSv2 analog of bucketed-table shuffle elimination
    * (the reference's 26 reducer buckets, `main.c++:180-205`, made
    * visible to the planner). Reported ONLY when the scan serves
    * `_letter`: Spark's conversion of the key expression HARD-FAILS
    * (not skips) on a reference the output can't resolve, so a scan
    * without the metadata column must say UnknownPartitioning. */
  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    if (readSchema().fieldNames.contains(IndexTextSource.LetterCol))
      new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
        Array(Expressions.identity(IndexTextSource.LetterCol)),
        planInputPartitions().length)
    else
      new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(
        planInputPartitions().length)

  /** Join-time filters delivered while the query RUNS (dynamic file
    * pruning — SPARK-35779): a broadcast-side build on `word` hands
    * this scan an IN-set before any index byte is read, and
    * `planInputPartitions` (re-invoked by `BatchScanExec` after
    * `filter`) drops whole letter directories. The 100 TB story:
    * `index ⋈ (selective dim)` scans only the letters the dim's words
    * can touch, with no static predicate in the query text at all.
    * Purely an optimization — Spark still applies the join itself. */
  @volatile private var runtime: Array[Filter] = Array.empty
  override def filterAttributes(): Array[NamedReference] =
    if (rowLevel) Array.empty else Array(Expressions.column("word"))
  /** In rowLevel mode runtime filters are IGNORED: the rewrite's
    * truncate-replace commit makes any pruned row a lost row, so the
    * copy-on-write scan always reads the complete artifact. */
  override def filter(filters: Array[Filter]): Unit =
    if (!rowLevel) runtime = filters.filter(IndexTextSource.usable)
  private[graft] def runtimeFilters: Array[Filter] = runtime
  private def effective: Array[Filter] = pushed ++ runtime

  /** Pushed COUNT(*) rewrites the served schema to the single partial-
    * count column (Spark pairs it positionally with the aggregate). */
  override def readSchema(): StructType =
    if (countStar && countByLetter) IndexTextScan.CountByLetterSchema
    else if (countStar) IndexTextScan.CountSchema
    else requiredSchema
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-index $path, PushedFilters: [${pushed.mkString(", ")}], " +
      limit.map(n => s"PushedLimit: $n (ordered=$orderedLimit), ").getOrElse("") +
      (if (countStar && countByLetter)
        s"PushedAggregation: [COUNT(*) GROUP BY ${IndexTextSource.LetterCol}], "
      else if (countStar) "PushedAggregation: [COUNT(*)], " else "") +
      s"ReadSchema: ${readSchema().simpleString}"

  /** Post-pruning size estimate = the byte sum of the files the scan
    * will actually read. Without this a DSv2 scan reports the default
    * (MAX_VALUE-ish) size and a letter-pruned point lookup could never
    * be chosen as a broadcast side — with it, `index ⋈ corpus` joins
    * broadcast the pruned index automatically (spec-pinned). */
  override def estimateStatistics(): Statistics = new Statistics {
    private lazy val bytes: Long = plannedFiles.map(_.len).sum
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(bytes)
    override def numRows(): java.util.OptionalLong =
      java.util.OptionalLong.empty()
  }

  /** One directory walk per filter state: `estimateStatistics` and the
    * planner may each call `planInputPartitions` during a single plan
    * (expensive listing on object stores); the cache is keyed by the
    * allowed-letter set so a runtime-filter re-plan re-lists. */
  @volatile private var listingCache
      : Option[(Option[Set[String]], Array[IndexFilePartition], Int)] = None

  /** The artifact's files pruned to the letters the pushed and runtime
    * predicates allow — the planning-time 1/26th (or 2/26th, …) cut.
    * Driver-side cost is one directory listing, same as any file
    * source (at real scale this listing comes from a manifest /
    * catalog, which is exactly the reference's manifest role). */
  private[graft] def plannedFiles: Array[IndexFilePartition] = {
    val allowed = IndexTextSource.lettersOf(effective)
    val (planned, total) = listingCache match {
      case Some((k, p, t)) if k == allowed => (p, t)
      case _ =>
        val (p, t) = IndexTextSource.listArtifactFiles(path, allowed)
        listingCache = Some((allowed, p, t))
        (p, t)
    }
    plannedCount = planned.length
    prunedCount = total - planned.length
    planned
  }

  /** Planned files bin-packed into byte-sized splits
    * ([[IndexTextSource.pack]]), except where a split must be one
    * file: a scan serving `_letter` reports key-grouped partitioning,
    * which needs each split's `HasPartitionKey`, and the pushed
    * `COUNT(*)` reader emits one partial row per file. */
  override def planInputPartitions(): Array[InputPartition] =
    if (countStar || readSchema().fieldNames.contains(IndexTextSource.LetterCol))
      plannedFiles.map(p => p: InputPartition)
    else IndexTextSource.pack(plannedFiles.toSeq)(_.len)
      .map(fs => IndexFilesPartition(fs): InputPartition).toArray

  @volatile private var plannedCount = 0L
  @volatile private var prunedCount = 0L
  override def supportedCustomMetrics(): Array[CustomMetric] =
    IndexMetrics.supported
  override def reportDriverMetrics(): Array[CustomTaskMetric] = Array(
    IndexMetrics.Task(IndexMetrics.PlannedFiles, plannedCount),
    IndexMetrics.Task(IndexMetrics.PrunedFiles, prunedCount))

  override def createReaderFactory(): PartitionReaderFactory =
    if (countStar) new IndexCountReaderFactory(Some(IndexTextSource.sessionConf()),
      withLetter = countByLetter)
    else new IndexTextReaderFactory(effective, requiredSchema, limit,
      orderedLimit, Some(IndexTextSource.sessionConf()))

  /** `readStream` on the artifact TAILS ITS DELTA EPOCHS: offsets are
    * epoch numbers, each micro-batch serves the rows of the newly
    * READY `_delta_<epoch>/` artifacts (the base is bootstrap state — a
    * batch read — not part of the feed). With `indexDeltaSink` on the
    * write side this closes the loop: one artifact, batch-written,
    * stream-appended, stream-consumed. */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new IndexDeltaMicroBatchStream(path, pushed, requiredSchema)
}

private[graft] case class IndexEpochOffset(epoch: Long)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = epoch.toString
}

/** Epoch-tailing micro-batch stream over an index artifact's deltas.
  * Progress is monotone in the epoch number (the delta writers'
  * contract: streaming epochs are batch ids, manual epochs must
  * increase); only READY deltas (published `_GRAFT_READY`) are
  * visible, so a half-committed epoch can never enter a batch. Exactly
  * once: offsets are checkpointed by the engine and each epoch's file
  * set is immutable after publish. */
private[graft] class IndexDeltaMicroBatchStream(path: String,
    pushed: Array[Filter], requiredSchema: StructType)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream {
  import org.apache.spark.sql.connector.read.streaming.Offset

  private def readyEpochs: Seq[Long] = {
    val base = new Path(path)
    val fs = base.getFileSystem(org.apache.spark.sql.SparkSession.active
      .sparkContext.hadoopConfiguration)
    if (!fs.exists(base)) Nil
    else fs.listStatus(base).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("_delta_"))
      .filter(s => fs.exists(new Path(s.getPath, "_GRAFT_READY")))
      .flatMap(_.getPath.getName.stripPrefix("_delta_").toLongOption)
      .sorted
  }

  override def initialOffset(): Offset = IndexEpochOffset(-1L)
  override def latestOffset(): Offset =
    IndexEpochOffset(readyEpochs.lastOption.getOrElse(-1L))
  override def deserializeOffset(json: String): Offset =
    IndexEpochOffset(json.toLong)

  /** Epochs served by THIS run — lets an out-of-order publish fail
    * loudly instead of being skipped silently (below). Best-effort:
    * after a checkpoint restart the set is empty and pre-restart
    * batches cannot be distinguished from late publishes. */
  private val served = scala.collection.mutable.Set.empty[Long]

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val lo = start.asInstanceOf[IndexEpochOffset].epoch
    val hi = end.asInstanceOf[IndexEpochOffset].epoch
    val ready = readyEpochs
    // the monotone-epoch contract, ENFORCED: a delta that became READY
    // after a higher epoch was already committed would otherwise never
    // enter any batch — silent data loss; make it the writer's bug
    val late = ready.filter(e => e <= lo && served.nonEmpty && !served.contains(e))
    if (late.nonEmpty)
      throw new IllegalStateException(
        s"graft-index stream: epoch(s) ${late.mkString(", ")} published " +
          s"out of order (offset already at $lo) — delta epochs must be " +
          "monotonically increasing")
    val batch = ready.filter(e => e > lo && e <= hi)
    served ++= batch
    batch
      .flatMap(e => IndexTextSource.listArtifactFiles(
        s"$path/_delta_$e", IndexTextSource.lettersOf(pushed))._1)
      .toArray.map(p => p: InputPartition)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new IndexTextReaderFactory(pushed, requiredSchema,
      hadoopConf = Some(IndexTextSource.sessionConf()))

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

private[graft] object IndexTextScan {
  val CountSchema: StructType = StructType(Seq(
    StructField("count(*)", LongType, nullable = false)))
  /** Grouped pushdown serves group columns first, then the partial. */
  val CountByLetterSchema: StructType = StructType(Seq(
    StructField(IndexTextSource.LetterCol, StringType, nullable = false),
    StructField("count(*)", LongType, nullable = false)))
}

/** One artifact file, as a split of its own or as a member of an
  * [[IndexFilesPartition]]. `HasPartitionKey` exposes the file's
  * letter bucket as its partition key, which is what lets Spark GROUP
  * same-letter files into key-grouped partitions (storage-partitioned
  * execution) when the scan also reports `KeyGroupedPartitioning` —
  * see [[IndexTextScan.outputPartitioning]]. */
private[graft] case class IndexFilePartition(file: String, len: Long)
    extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow =
    InternalRow(UTF8String.fromString(IndexTextSource.letterOfFile(file)))
}

/** A bin-packed split of several artifact files, read one after the
  * other ([[IndexTextSource.pack]]). */
private[graft] case class IndexFilesPartition(files: Seq[IndexFilePartition])
    extends InputPartition

/** COUNT(*) pushdown reader: one row per file — the grammar-line
  * count — with no word materialization and no posting parse. With
  * `withLetter` the row also carries the file's letter (the grouped
  * form — the letter is the DIRECTORY, so grouping costs nothing). */
private[graft] class IndexCountReaderFactory(
    hadoopConf: Option[org.apache.spark.util.SerializableConfiguration] = None,
    withLetter: Boolean = false)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val file = partition.asInstanceOf[IndexFilePartition].file
      private var linesRead = 0L
      private var done = false
      private var count = 0L
      override def next(): Boolean =
        if (done) false
        else {
          val p = new Path(file)
          val fs = p.getFileSystem(hadoopConf.map(_.value)
            .getOrElse(new org.apache.hadoop.conf.Configuration()))
          val reader = new java.io.BufferedReader(
            new java.io.InputStreamReader(fs.open(p),
              java.nio.charset.StandardCharsets.UTF_8))
          try {
            var line = reader.readLine()
            while (line != null) {
              if (IndexTextSource.grammarCut(line) > 0) count += 1
              linesRead += 1
              line = reader.readLine()
            }
          } finally reader.close()
          done = true
          true
        }
      override def get(): InternalRow =
        if (withLetter)
          InternalRow(
            UTF8String.fromString(IndexTextSource.letterOfFile(file)), count)
        else InternalRow(count)
      override def close(): Unit = ()
      override def currentMetricsValues(): Array[CustomTaskMetric] = Array(
        IndexMetrics.Task(IndexMetrics.LinesRead, linesRead),
        IndexMetrics.Task(IndexMetrics.RowsSkipped, 0L))
    }
}

private[graft] class IndexTextReaderFactory(pushed: Array[Filter],
    requiredSchema: StructType, limit: Option[Int] = None,
    orderedLimit: Boolean = false,
    hadoopConf: Option[org.apache.spark.util.SerializableConfiguration] = None)
    extends PartitionReaderFactory {
  private def open(p: IndexFilePartition): PartitionReader[InternalRow] =
    new IndexTextPartitionReader(p.file, pushed, requiredSchema, limit,
      orderedLimit, hadoopConf)
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    partition match {
      case IndexFilesPartition(files) => new ChainedPartitionReader(files, open)
      case p: IndexFilePartition => open(p)
    }
}

/** Reads a packed split's files in order, one per-file reader at a
  * time, each opened only when the previous one is exhausted — so each
  * file keeps its own pushed (top-)N limit and `df↓ word↑` check. Task
  * metrics are summed over the files by name. */
private[graft] class ChainedPartitionReader(files: Seq[IndexFilePartition],
    open: IndexFilePartition => PartitionReader[InternalRow])
    extends PartitionReader[InternalRow] {
  private val pending = files.iterator
  private var current: PartitionReader[InternalRow] = null
  private val finished = scala.collection.mutable.Map.empty[String, Long]

  override def next(): Boolean = {
    while (current != null || pending.hasNext) {
      if (current == null) current = open(pending.next())
      if (current.next()) return true
      current.currentMetricsValues().foreach(m =>
        finished(m.name()) = finished.getOrElse(m.name(), 0L) + m.value())
      current.close()
      current = null
    }
    false
  }
  override def get(): InternalRow = current.get()
  override def currentMetricsValues(): Array[CustomTaskMetric] =
    (finished.toSeq ++ Option(current).toSeq.flatMap(
      _.currentMetricsValues().map(m => m.name() -> m.value())))
      .groupMapReduce(_._1)(_._2)(_ + _)
      .map { case (n, v) => IndexMetrics.Task(n, v): CustomTaskMetric }.toArray
  override def close(): Unit = if (current != null) current.close()
}

/** Streams one index file line-by-line: parse the word, row-filter on
  * it, and only then touch the posting ids — and only as far as the
  * required columns demand (`df` counts ids; `postings` materializes
  * them; neither parses when both are pruned). */
private[graft] class IndexTextPartitionReader(file: String,
    pushed: Array[Filter], requiredSchema: StructType,
    limit: Option[Int] = None, orderedLimit: Boolean = false,
    hadoopConf: Option[org.apache.spark.util.SerializableConfiguration] = None)
    extends PartitionReader[InternalRow] {

  private val needDf = requiredSchema.fieldNames.contains("df")
  private val needPostings = requiredSchema.fieldNames.contains("postings")
  private var emitted = 0
  private var linesRead = 0L
  private var rowsSkipped = 0L
  // order-verification state for pushed top-N (df↓ word↑ per file)
  private var lastDf = Long.MaxValue
  private var lastWord: String = null

  override def currentMetricsValues(): Array[CustomTaskMetric] = Array(
    IndexMetrics.Task(IndexMetrics.LinesRead, linesRead),
    IndexMetrics.Task(IndexMetrics.RowsSkipped, rowsSkipped))

  private val fs = {
    val p = new Path(file)
    p.getFileSystem(hadoopConf.map(_.value)
      .getOrElse(new org.apache.hadoop.conf.Configuration()))
  }
  private val reader = new java.io.BufferedReader(
    new java.io.InputStreamReader(fs.open(new Path(file)),
      java.nio.charset.StandardCharsets.UTF_8))

  private var row: InternalRow = _

  override def next(): Boolean = {
    // pushed (top-)N satisfied: the rest of the file cannot contribute
    if (limit.exists(emitted >= _)) return false
    var line = reader.readLine()
    while (line != null) {
      val cut = IndexTextSource.grammarCut(line)
      if (cut > 0) {
        linesRead += 1
        val word = line.substring(0, cut)
        if (orderedLimit) verifyOrder(word, line, cut)
        if (pushed.forall(IndexTextSource.wordMatches(_, word))) {
          row = buildRow(word, line.substring(cut + 2, line.length - 1))
          emitted += 1
          return true
        } else rowsSkipped += 1
      }
      line = reader.readLine()
    }
    false
  }

  /** Top-N pushdown leans on the R16 grammar's per-file `df↓ word↑`
    * order; CHECK it as we stream (two compares per line) so a
    * mis-sort inside the consumed prefix fails loudly instead of
    * silently dropping top rows. (Rows BELOW the prefix are never
    * read — trusting the writer's sort for them is the same trade
    * parquet min/max pruning makes with its writer's stats.) */
  private def verifyOrder(word: String, line: String, cut: Int): Unit = {
    val df = {
      val ids = line.substring(cut + 2, line.length - 1)
      if (ids.isEmpty) 0L else (ids.count(_ == ' ') + 1).toLong
    }
    if (df > lastDf || (df == lastDf && lastWord != null && word < lastWord))
      throw new IllegalStateException(
        s"graft-index top-N pushdown: $file violates the df desc, word " +
          s"asc grammar order at '$word' (df=$df after '$lastWord' df=$lastDf)")
    lastDf = df; lastWord = word
  }

  // metadata-column values are per-file constants, computed once
  private lazy val letterValue = UTF8String.fromString(
    IndexTextSource.letterOfFile(file))
  private lazy val fileValue = UTF8String.fromString(file)

  private def buildRow(word: String, ids: String): InternalRow = {
    lazy val idStrs: Array[String] =
      if (ids.isEmpty) Array.empty else ids.split(' ')
    val values = requiredSchema.fieldNames.map {
      case "word" => UTF8String.fromString(word)
      case "df" =>
        // with postings pruned, COUNT the ids without splitting — for
        // a corpus-scale word the split array IS the row's cost
        if (needPostings) idStrs.length.toLong
        else if (ids.isEmpty) 0L
        else (ids.count(_ == ' ') + 1).toLong
      case "postings" => ArrayData.toArrayData(idStrs.map(_.toLong))
      case IndexTextSource.LetterCol => letterValue
      case IndexTextSource.FileCol => fileValue
      case other => throw new IllegalArgumentException(
        s"graft-index has no column $other")
    }
    InternalRow.fromSeq(values.toIndexedSeq)
  }

  override def get(): InternalRow = row
  override def close(): Unit = reader.close()
}
