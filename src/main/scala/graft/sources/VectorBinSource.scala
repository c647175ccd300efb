package graft.sources

import java.util.{Map => JMap}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, Transform}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{EqualTo, Filter, In, IsNotNull}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 `TableProvider` serving the persisted VECTOR artifact
  * (round-7 verdict #8) — the ANN family's stored index
  * (`VectorStore.saveLshBinary`: one binary file per LSH bucket
  * directory, `bucket=<b>/part-*.bin`) — as a first-class Spark table
  * `(vec_id LONG, bucket LONG, v ARRAY<DOUBLE>)`:
  *
  * {{{ spark.read.format("graft-vectors").load(dir) }}}
  *
  * The three scan behaviors an ANN probe needs at 100 TB, mirroring
  * the `graft-index` source:
  *
  *  - '''Cell pruning from pushed predicates'''
  *    (`SupportsPushDownFilters`): `bucket = b` / `bucket IN (…)`
  *    bound the artifact directories a scan lists — a probe of
  *    `nProbe` cells plans exactly those cells' files before a byte
  *    is read.
  *  - '''Runtime cell pruning''' (`SupportsRuntimeFiltering`): the
  *    production probe is a JOIN — queries' buckets are data, not
  *    literals — so the broadcast build side hands this scan an
  *    IN-set of buckets while the query runs, and re-planning drops
  *    every unprobed cell's file (the q168 dynamic-file-pruning story
  *    for vectors; `VectorSourceSpec` pins the opened-file count to
  *    the probed-bucket count).
  *  - '''Column pruning''' (`SupportsPushDownRequiredColumns`): a scan
  *    that needs only `vec_id`/`bucket` SKIPS each row's payload
  *    (`DataInput.skipBytes` over dim·8 bytes) — at production dims
  *    the payload IS the row, so a counting/filtering pass reads ids
  *    only.
  *
  * Bucket predicates also apply row-free at the FILE level only — the
  * reader never needs row-level re-checks because a file's bucket is
  * its directory; Spark re-applies all filters above the scan anyway,
  * so correctness never rests on the pruning. */
class VectorBinSource extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {

  override def shortName(): String = "graft-vectors"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    VectorBinSource.Schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table = {
    val path = properties.get("path")
    require(path != null && path.nonEmpty,
      "graft-vectors source requires a path: spark.read.format(\"graft-vectors\").load(dir)")
    new VectorBinTable(path)
  }
}

object VectorBinSource {
  /** Binary row layout (big-endian `DataOutput`): vec_id LONG, dim
    * INT, dim DOUBLEs. The bucket never rides in the file — it IS the
    * `bucket=<b>` directory, the partition-value convention. */
  val Schema: StructType = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("bucket", LongType, nullable = false),
    StructField("v", ArrayType(DoubleType, containsNull = false),
      nullable = false)))

  /** Readiness marker — the writer publishes it LAST, so a scan never
    * plans a half-written artifact. */
  val ReadyMarker = "_GRAFT_VEC_READY"

  /** Files actually OPENED by readers — local-mode observability for
    * the pruning specs (executors share the JVM at local[*]; on a
    * cluster the source's task metrics would carry this instead). */
  val filesOpened = new java.util.concurrent.atomic.AtomicLong(0L)

  private[sources] def bucketOfFile(file: String): Long = {
    val parent = new Path(file).getParent
    require(parent != null && parent.getName.startsWith("bucket="),
      s"not a bucketed vector file: $file")
    parent.getName.stripPrefix("bucket=").toLong
  }

  /** (bucket, file, length) for every data file under the artifact. */
  private[sources] def listFiles(path: String): Seq[(Long, String, Long)] = {
    val root = new Path(path)
    val fs = root.getFileSystem(org.apache.spark.sql.SparkSession.active
      .sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("bucket="))
      .flatMap(d => fs.listStatus(d.getPath).toSeq
        .filter(f => f.isFile && f.getPath.getName.endsWith(".bin"))
        .map(f => (d.getPath.getName.stripPrefix("bucket=").toLong,
          f.getPath.toString, f.getLen)))
      .sortBy(_._2)
  }

  /** Bucket filters this source can turn into file pruning. */
  private[sources] def usable(f: Filter): Boolean = f match {
    case EqualTo("bucket", _: java.lang.Long) => true
    case EqualTo("bucket", _: java.lang.Integer) => true
    case In("bucket", _) => true
    case IsNotNull("bucket") => true
    case _ => false
  }

  /** The bucket id set the filters allow (None = unbounded). */
  private[sources] def allowedBuckets(filters: Seq[Filter]): Option[Set[Long]] = {
    val sets = filters.collect {
      case EqualTo("bucket", v: java.lang.Long) => Set(v.longValue)
      case EqualTo("bucket", v: java.lang.Integer) => Set(v.longValue)
      case In("bucket", vs) => vs.collect {
        case v: java.lang.Long => v.longValue
        case v: java.lang.Integer => v.longValue
      }.toSet
    }
    if (sets.isEmpty) None else Some(sets.reduce(_ intersect _))
  }
}

private[graft] class VectorBinTable(path: String) extends Table
    with SupportsRead {
  override def name(): String = s"graft_vectors(`$path`)"
  override def schema(): StructType = VectorBinSource.Schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new VectorBinScanBuilder(path)
}

private[graft] class VectorBinScanBuilder(path: String) extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns {
  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = VectorBinSource.Schema

  /** Every filter is returned as residual — Spark re-applies them
    * above the scan, so the pushdown is pure scan-cost reduction
    * (the graft-index contract). */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(VectorBinSource.usable)
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def build(): Scan = new VectorBinScan(path, pushed, required)
}

private[graft] class VectorBinScan(path: String, val pushed: Array[Filter],
    requiredSchema: StructType) extends Scan with Batch
    with SupportsRuntimeFiltering with SupportsReportStatistics {

  /** Join-time bucket filters delivered while the query runs (dynamic
    * file pruning): the broadcast probe side hands over its bucket
    * IN-set and `planInputPartitions` (re-invoked after `filter`)
    * drops every unprobed cell's file. */
  @volatile private var runtime: Array[Filter] = Array.empty
  override def filterAttributes(): Array[NamedReference] =
    Array(Expressions.column("bucket"))
  override def filter(filters: Array[Filter]): Unit =
    runtime = filters.filter(VectorBinSource.usable)
  private[graft] def runtimeFilters: Array[Filter] = runtime

  override def readSchema(): StructType = requiredSchema
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-vectors $path, PushedFilters: [${pushed.mkString(", ")}]"

  /** One walk of the `bucket=` directories per filter state: planning,
    * statistics and the runtime-filter re-plan each call
    * `planInputPartitions`; keyed by the allowed-bucket set, so a
    * runtime filter still re-plans (the `graft-index` listing cache). */
  @volatile private var listingCache
      : Option[(Option[Set[Long]], Array[InputPartition])] = None

  override def planInputPartitions(): Array[InputPartition] = {
    val allowed = VectorBinSource.allowedBuckets(
      (pushed ++ runtime).toIndexedSeq)
    listingCache match {
      case Some((k, parts)) if k == allowed => parts
      case _ =>
        val parts = VectorBinSource.listFiles(path)
          .filter { case (b, _, _) => allowed.forall(_.contains(b)) }
          .map { case (b, f, len) => VectorFilePartition(b, f, len): InputPartition }
          .toArray
        listingCache = Some((allowed, parts))
        parts
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new VectorBinReaderFactory(requiredSchema, IndexTextSource.sessionConf())

  override def estimateStatistics(): Statistics = new Statistics {
    private lazy val files = planInputPartitions()
      .map(_.asInstanceOf[VectorFilePartition])
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(math.max(1L, files.map(_.len).sum))
    override def numRows(): java.util.OptionalLong =
      java.util.OptionalLong.empty()
  }
}

private[graft] case class VectorFilePartition(bucket: Long, file: String,
    len: Long) extends InputPartition

private[graft] class VectorBinReaderFactory(schema: StructType,
    conf: org.apache.spark.util.SerializableConfiguration)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new VectorBinPartitionReader(p.asInstanceOf[VectorFilePartition],
      schema, conf)
}

/** Streams one bucket file. Column pruning is physical: when `v` is
  * not required, the payload doubles are SKIPPED, not parsed. */
private[graft] class VectorBinPartitionReader(p: VectorFilePartition,
    schema: StructType,
    conf: org.apache.spark.util.SerializableConfiguration)
    extends PartitionReader[InternalRow] {

  VectorBinSource.filesOpened.incrementAndGet()

  private val needV = schema.fieldNames.contains("v")
  private val in: java.io.DataInputStream = {
    val hp = new Path(p.file)
    new java.io.DataInputStream(new java.io.BufferedInputStream(
      hp.getFileSystem(conf.value).open(hp), 1 << 16))
  }
  private var consumed = 0L
  private var current: InternalRow = _

  override def next(): Boolean =
    if (consumed >= p.len) false
    else {
      val vecId = in.readLong()
      val dim = in.readInt()
      val values = schema.fields.map { f =>
        f.name match {
          case "vec_id" => vecId: Any
          case "bucket" => p.bucket: Any
          case "v" => null: Any // filled below once the payload is read
        }
      }
      if (needV) {
        val arr = new Array[Double](dim)
        var i = 0
        while (i < dim) { arr(i) = in.readDouble(); i += 1 }
        val vi = schema.fieldIndex("v")
        values(vi) = new GenericArrayData(arr)
      } else {
        // skipBytes returns 0 at EOF (JDK contract) — a truncated file
        // must FAIL the task, not spin it forever
        var left = dim * 8
        while (left > 0) {
          val s = in.skipBytes(left)
          if (s <= 0) throw new java.io.EOFException(
            s"truncated vector file ${p.file}: $left payload bytes missing")
          left -= s
        }
      }
      consumed += 8L + 4L + dim * 8L
      current = InternalRow.fromSeq(values.toIndexedSeq)
      true
    }

  override def get(): InternalRow = current
  override def close(): Unit = in.close()
}
