package graft.sources

import java.util.{Map => JMap}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.analysis.{NamespaceAlreadyExistsException, NoSuchNamespaceException, NoSuchTableException, NonEmptyNamespaceException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A `TableCatalog` over a warehouse directory of R16 index artifacts,
  * completing the SQL-surface arc of the custom source: where q160
  * reads by PATH (`spark.read.format("graft-index").load(dir)`) and
  * q166's `CREATE TABLE … USING graft-index` names ONE table in the
  * session catalog, this plugs a whole warehouse of index artifacts
  * into Spark's catalog resolution:
  *
  * {{{
  * spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
  * spark.conf.set("spark.sql.catalog.graft.warehouse", "/data/indexes")
  * spark.sql("SELECT word, df FROM graft.myindex WHERE word = 'x'")
  * spark.sql("SHOW TABLES IN graft")
  * spark.sql("CREATE TABLE graft.t2 AS SELECT …")   // CTAS → V2 writer
  * spark.sql("DROP TABLE graft.t2")
  * }}}
  *
  * Layout: `<warehouse>/<ns…>/<name>` — an identifier's namespace
  * path maps to subdirectories; a directory IS a table when it holds
  * the artifact (`letter=*` buckets or the `_GRAFT_READY` marker).
  * Loaded tables are plain [[IndexTextTable]]s, so every scan
  * behavior (file pruning, column pruning, top-N/limit pushdown,
  * runtime filtering, reported statistics, custom metrics) and the V2
  * commit-protocol writer apply unchanged through the catalog path.
  * The reference analog is its manifest-driven source
  * (`main.c++:306-352`) promoted one level further: from a file
  * manifest to a table namespace.
  *
  * TIME TRAVEL: `VERSION AS OF n` loads `_gen_<n>/` — the complete
  * pre-compaction base that `IndexStore.compact(…, retainGeneration =
  * true)` snapshots before each rewrite. A generation is itself a full
  * artifact, so a version read is a plain artifact read (every scan
  * behavior intact) — never unmerged state, never a merge inside a
  * Scan. `TIMESTAMP AS OF` resolves to the newest generation published
  * at or before the instant, or the current base when none is newer.
  *
  * Deliberately NOT implemented: `alterTable` (the artifact's schema
  * is the R16 grammar — there is nothing to alter). `renameTable` is a
  * filesystem rename, atomic where the FS is.
  */
object GraftCatalog {
  /** Register a [[GraftCatalog]] over `warehouse` under a name DERIVED
    * FROM THE WAREHOUSE PATH (`<prefix>_<md5-8>`), returning the name.
    * Spark caches catalog instances per name at first load, so a FIXED
    * name re-registered with a different warehouse later in the same
    * session would silently keep serving the first one (a second
    * corpus directory would read the first corpus's artifact). A
    * path-fingerprinted name gives each warehouse its own cached
    * catalog, so repeated same-session runs against different corpora
    * resolve the right artifact; re-registering the same warehouse is
    * idempotent. MD5 (not String.hashCode) for the same reason as
    * ArtifactStore's param key: a 32-bit hashCode collision would
    * serve the WRONG warehouse. */
  def registerFor(spark: org.apache.spark.sql.SparkSession,
      prefix: String, warehouse: String): String = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(warehouse.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString.take(8)
    val name = s"${prefix}_$h"
    spark.conf.set(s"spark.sql.catalog.$name", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", warehouse)
    name
  }
}

class GraftCatalog extends TableCatalog with SupportsNamespaces {

  private var catalogName: String = _
  private var warehouse: Path = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    val w = options.get("warehouse")
    require(w != null && w.nonEmpty,
      s"catalog '$name' needs spark.sql.catalog.$name.warehouse=<dir>")
    warehouse = new Path(w)
  }

  override def name(): String = catalogName

  private def fs = StoreFs.of(warehouse,
    org.apache.spark.sql.SparkSession.active.sparkContext.hadoopConfiguration)

  private def dirFor(ident: Identifier): Path =
    (ident.namespace() :+ ident.name()).foldLeft(warehouse)(new Path(_, _))

  /** A directory is a TABLE when it carries the artifact's shape —
    * letter buckets, a published artifact's ready marker, or the
    * catalog's own create marker (`_GRAFT_TABLE`, distinct from
    * `_GRAFT_READY` so an empty just-created table is never mistaken
    * for a PUBLISHED artifact by readiness-sensitive readers). */
  private def isTable(d: Path): Boolean =
    fs.exists(new Path(d, "_GRAFT_READY")) ||
      fs.exists(new Path(d, "_GRAFT_TABLE")) ||
      Option(fs.globStatus(new Path(d, "letter=*"))).exists(_.nonEmpty)

  override def tableExists(ident: Identifier): Boolean = {
    val d = dirFor(ident)
    fs.exists(d) && isTable(d)
  }

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val d = namespace.foldLeft(warehouse)(new Path(_, _))
    if (!fs.exists(d)) throw new NoSuchNamespaceException(namespace)
    fs.listStatus(d).iterator
      .filter(_.isDirectory)
      .filter(s => isTable(s.getPath))
      .map(s => Identifier.of(namespace, s.getPath.getName))
      .toArray
  }

  override def loadTable(ident: Identifier): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    new IndexTextTable(dirFor(ident).toString)
  }

  /** `VERSION AS OF n`: serve retained generation n (`_gen_<n>/`, a
    * complete artifact snapshotted by generation-retaining
    * compaction). Only PUBLISHED generations (ready marker) resolve. */
  override def loadTable(ident: Identifier, version: String): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val d = dirFor(ident)
    val g = version.trim.toLongOption.getOrElse(
      throw new IllegalArgumentException(
        s"graft-index versions are generation numbers; got '$version'"))
    val gen = new Path(d, s"_gen_$g")
    if (!fs.exists(new Path(gen, "_GRAFT_READY")))
      throw new NoSuchTableException(ident)
    new IndexTextTable(gen.toString)
  }

  /** `TIMESTAMP AS OF t` (micros since epoch): generation g was the
    * LIVE base until the moment it was snapshotted, so t resolves to
    * the OLDEST generation published after t — and to the current base
    * when every snapshot predates t. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val d = dirFor(ident)
    val tsMillis = timestampMicros / 1000L
    val gens = Option(fs.globStatus(new Path(d, "_gen_*")))
      .getOrElse(Array.empty)
      .filter(s => s.isDirectory &&
        fs.exists(new Path(s.getPath, "_GRAFT_READY")))
      .flatMap(s => s.getPath.getName.stripPrefix("_gen_").toLongOption
        .map(g => (g, fs.getFileStatus(
          new Path(s.getPath, "_GRAFT_READY")).getModificationTime)))
      .sortBy(_._1)
    // a generation g is the base that was LIVE until its snapshot time;
    // the first generation snapshotted AFTER t is therefore t's state,
    // and if every snapshot predates t the current base is the answer
    gens.find(_._2 > tsMillis) match {
      case Some((g, _)) => new IndexTextTable(new Path(d, s"_gen_$g").toString)
      case None => new IndexTextTable(d.toString)
    }
  }

  /** The StructType variant is the delegation SINK of the three
    * `createTable` defaults (TableInfo → Column[] → this), so one
    * override serves every entry point Spark uses. */
  override def createTable(ident: Identifier,
      schema: org.apache.spark.sql.types.StructType,
      partitions: Array[org.apache.spark.sql.connector.expressions.Transform],
      properties: JMap[String, String]): Table = {
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    val names = schema.fieldNames.toSet
    // require up front what the WRITER will require (word + postings):
    // a doomed CTAS should fail here, before any directory exists
    require(names.subsetOf(Set("word", "df", "postings")) &&
        names.contains("word") && names.contains("postings"),
      s"graft catalog tables have schema (word, df, postings); got ${names.mkString(", ")}")
    require(partitions.isEmpty,
      "graft-index manages its own letter partitioning; PARTITIONED BY is not supported")
    val d = dirFor(ident)
    fs.mkdirs(d)
    // mark the (possibly still empty) directory as a table so a
    // create-then-insert sequence resolves between the two statements
    // (NOT _GRAFT_READY — that marker means a published artifact)
    fs.create(new Path(d, "_GRAFT_TABLE"), true).close()
    new IndexTextTable(d.toString)
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    throw new UnsupportedOperationException(
      "graft-index tables are fixed-schema R16 artifacts; ALTER is not supported")

  override def dropTable(ident: Identifier): Boolean =
    tableExists(ident) && fs.delete(dirFor(ident), true)

  override def renameTable(from: Identifier, to: Identifier): Unit = {
    if (!tableExists(from)) throw new NoSuchTableException(from)
    if (tableExists(to)) throw new TableAlreadyExistsException(to)
    val dst = dirFor(to)
    fs.mkdirs(dst.getParent)
    if (!fs.rename(dirFor(from), dst))
      throw new java.io.IOException(s"rename $from -> $to failed")
  }

  // ---- SupportsNamespaces: directories that are not tables ----------

  private def nsDir(ns: Array[String]): Path =
    ns.foldLeft(warehouse)(new Path(_, _))

  /** A namespace is a plain directory; a table directory (artifact
    * shape) is NOT a namespace — the two are disjoint by `isTable`. */
  override def namespaceExists(namespace: Array[String]): Boolean = {
    val d = nsDir(namespace)
    namespace.isEmpty || (fs.exists(d) && fs.getFileStatus(d).isDirectory &&
      !isTable(d))
  }

  override def listNamespaces(): Array[Array[String]] =
    listNamespaces(Array.empty)

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    val d = nsDir(namespace)
    if (!fs.exists(d)) Array.empty
    else fs.listStatus(d).iterator
      .filter(s => s.isDirectory && !isTable(s.getPath) &&
        !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith("."))
      .map(s => namespace :+ s.getPath.getName)
      .toArray
  }

  override def loadNamespaceMetadata(namespace: Array[String])
      : java.util.Map[String, String] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    java.util.Collections.singletonMap(
      SupportsNamespaces.PROP_LOCATION, nsDir(namespace).toString)
  }

  override def createNamespace(namespace: Array[String],
      metadata: java.util.Map[String, String]): Unit = {
    if (namespaceExists(namespace) || tableExists(
        Identifier.of(namespace.dropRight(1), namespace.last)))
      throw new NamespaceAlreadyExistsException(namespace)
    fs.mkdirs(nsDir(namespace))
  }

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "graft namespaces are bare directories; ALTER NAMESPACE is not supported")

  override def dropNamespace(namespace: Array[String],
      cascade: Boolean): Boolean = {
    if (!namespaceExists(namespace) || namespace.isEmpty)
      throw new NoSuchNamespaceException(namespace)
    val d = nsDir(namespace)
    val nonEmpty = fs.listStatus(d).nonEmpty
    if (nonEmpty && !cascade) throw new NonEmptyNamespaceException(namespace)
    fs.delete(d, true)
  }
}
