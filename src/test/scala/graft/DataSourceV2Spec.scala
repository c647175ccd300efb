package graft

import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

import graft.operators.InvertedIndex
import graft.sources.{IndexFilePartition, IndexFilesPartition, IndexStore, IndexTextScan, IndexTextSource}

/** The custom DSv2 source over the persisted R16 text index
  * (graft.sources.IndexTextSource): correctness vs the DataFrame path,
  * word-predicate FILE pruning at planning time, pushed-filter
  * visibility in the plan, and column pruning in the scan schema. */
class DataSourceV2Spec extends SparkSpec {

  private lazy val docs = spark.read.parquet(s"$testdataDir/documents.parquet")
  private lazy val indexDir = IndexStore.textIndexFor(spark, testdataDir)
  private lazy val table = IndexStore.readIndexTable(spark, indexDir)

  /** Plan-shape assertions read the static plan (AQE wraps the tree in
    * AdaptiveSparkPlanExec, hiding the scan from collect — the
    * PartitionPruneSpec pattern). */
  private def scanOf(df: org.apache.spark.sql.DataFrame): IndexTextScan = {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try df.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.scan
    }.collectFirst { case s: IndexTextScan => s }
      .getOrElse(fail("no IndexTextScan in the plan"))
    finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("full table through the source ≡ postings DataFrame path") {
    val fromSource = table.select("word", "df", "postings")
      .orderBy("word").collect()
    val direct = InvertedIndex.postingsUnordered(docs)
      .select(col("word"), col("df"),
        col("postings").cast("array<bigint>").as("postings"))
      .orderBy("word").collect()
    assert(fromSource.length === direct.length)
    fromSource.zip(direct).foreach { case (a, b) =>
      assert(a.getString(0) === b.getString(0))
      assert(a.getLong(1) === b.getLong(1))
      assert(a.getSeq[Long](2) === b.getSeq[Long](2))
    }
  }

  test("word equality predicate is pushed and prunes to one letter's files") {
    val q = table.where(col("word") === "batch").select("word", "df")
    val scan = scanOf(q)
    assert(scan.pushed.nonEmpty, "word = 'batch' must reach pushedFilters")
    val parts = scan.planInputPartitions()
    assert(parts.nonEmpty)
    // every planned file lives under letter=b — the 1/26th cut happened
    // at PLANNING time, before any read
    assert(parts.forall(_.toString.contains("letter=b")),
      s"unpruned partitions: ${parts.mkString(", ")}")
    // and the pruned scan still answers correctly
    val row = q.collect()
    val expect = InvertedIndex.postingsUnordered(docs)
      .where(col("word") === "batch").select("word", "df").collect()
    assert(row.map(_.toString).sorted === expect.map(_.toString).sorted)
  }

  test("IN predicate prunes to exactly the named letters") {
    val q = table.where(col("word").isin("batch", "scan"))
    val parts = scanOf(q).planInputPartitions()
    assert(parts.nonEmpty)
    assert(parts.forall(p =>
      p.toString.contains("letter=b") || p.toString.contains("letter=s")))
    // both letters present: the artifact has words under each
    assert(parts.exists(_.toString.contains("letter=b")))
    assert(parts.exists(_.toString.contains("letter=s")))
  }

  test("LIKE-prefix predicate prunes by its first letter") {
    val q = table.where(col("word").startsWith("ba"))
    val scan = scanOf(q)
    assert(scan.pushed.nonEmpty)
    assert(scan.planInputPartitions().forall(_.toString.contains("letter=b")))
    // row-level semantics stay Spark's: only ba-prefixed words survive
    assert(q.select("word").collect().forall(_.getString(0).startsWith("ba")))
  }

  test("an unconstrained scan plans every letter's files") {
    val files = scanOf(table).plannedFiles
    val letters = files.map(_.file.replaceAll(".*letter=(.).*", "$1")).toSet
    // sf0.001 vocabulary covers most letters; at minimum it is >> 2
    assert(letters.size > 10, s"suspiciously few letters: $letters")
  }

  test("column pruning reaches the scan schema") {
    val q = table.where(col("word") === "batch").select("word", "df")
    assert(scanOf(q).readSchema().fieldNames.toSet === Set("word", "df"))
    val full = table.select("word", "df", "postings")
    assert(scanOf(full).readSchema().fieldNames.toSet ===
      Set("word", "df", "postings"))
  }

  test("df column equals posting-list length even when postings is pruned") {
    val slim = table.select("word", "df").where(col("word") === "batch").collect()
    val wide = table.select("word", "df", "postings")
      .where(col("word") === "batch").collect()
    assert(slim.head.getLong(1) === wide.head.getSeq[Long](2).length.toLong)
  }

  test("reported statistics make the pruned lookup the broadcast join side") {
    // without SupportsReportStatistics a DSv2 scan sizes as the default
    // (effectively infinite) and could never broadcast; with the
    // post-pruning byte sum it must
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val hits = table.where(col("word") === "batch")
        .select(explode(col("postings")).as("doc_id"))
      val joined = docs.select("doc_id", "lang").join(hits, "doc_id")
      val bhjs = joined.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
      }
      assert(bhjs.nonEmpty, "pruned index lookup did not broadcast:\n" +
        joined.queryExecution.executedPlan.toString)
      val expect = graft.functions.TextFns.docWords(docs)
        .where(col("word") === "batch").count()
      assert(joined.count() === expect)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("DSv2 write path: round-trip ≡ postings, R16 grammar on disk") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dsv2_w").toString
    val postings = InvertedIndex.postingsUnordered(docs)
    IndexStore.writeIndexTable(postings, dir)
    // 1. reading back through the source reproduces the relation
    val back = IndexStore.readIndexTable(spark, dir)
      .select("word", "df", "postings").orderBy("word").collect()
    val direct = postings
      .select(col("word"), col("df"),
        col("postings").cast("array<bigint>").as("postings"))
      .orderBy("word").collect()
    assert(back.map(_.toString).toSeq === direct.map(_.toString).toSeq)
    // 2. the files carry the R16 grammar, bucketed by first letter
    val bDir = new java.io.File(dir, "letter=b")
    assert(bDir.isDirectory)
    val lines = Option(bDir.listFiles()).get
      .filter(f => f.isFile && !f.getName.startsWith("_")  && !f.getName.startsWith("."))
      .flatMap(f => scala.io.Source.fromFile(f, "UTF-8").getLines())
    assert(lines.nonEmpty)
    assert(lines.forall(_.matches("[a-z]+:\\[\\d+( \\d+)*\\]")))
    assert(lines.forall(_.startsWith("b")))
    // 3. no staging residue; ready marker present; empty letters exist
    assert(!new java.io.File(dir).listFiles().exists(
      _.getName.startsWith("_graft_staging")))
    assert(new java.io.File(dir, "_GRAFT_READY").exists())
    assert(('a' to 'z').forall(l => new java.io.File(dir, s"letter=$l").isDirectory))
  }

  test("DSv2 write: overwrite replaces the artifact (no stale words survive)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_dsv2_ow").toString
    def rel(rows: Seq[(String, Long, Array[Long])]) =
      rows.toDF("word", "df", "postings")
    IndexStore.writeIndexTable(rel(Seq(("zebra", 2L, Array(1L, 2L)))), dir)
    assert(IndexStore.readIndexTable(spark, dir).count() === 1L)
    IndexStore.writeIndexTable(rel(Seq(("apple", 1L, Array(7L)))), dir)
    val words = IndexStore.readIndexTable(spark, dir)
      .select("word").collect().map(_.getString(0)).toSeq
    assert(words === Seq("apple"), s"stale rows survived overwrite: $words")
  }

  test("pure-SQL surface: CREATE TABLE … USING graft-index") {
    spark.sql("DROP TABLE IF EXISTS graft_idx_sql")
    spark.sql(
      s"CREATE TABLE graft_idx_sql USING `graft-index` LOCATION '$indexDir'")
    try {
      val row = spark.sql(
        "SELECT word, df FROM graft_idx_sql WHERE word = 'batch'").collect()
      assert(row.length === 1 && row.head.getString(0) === "batch")
      // same answer as the DataFrame read path
      val df = table.where(col("word") === "batch")
        .select("word", "df").collect()
      assert(row.head.getLong(1) === df.head.getLong(1))
      // the catalog table serves the SAME custom scan (pushdown intact)
      val q = spark.sql("SELECT word, df FROM graft_idx_sql WHERE word = 'batch'")
      assert(scanOf(q).pushed.nonEmpty)
    } finally spark.sql("DROP TABLE IF EXISTS graft_idx_sql")
  }

  test("non-word predicates are not claimed as pushed but still apply") {
    val q = table.where(col("df") >= 2)
    val scan = scanOf(q)
    assert(scan.pushed.forall(f => f.references.contains("word")),
      "df predicate must not be claimed by the word-pushdown")
    val expect = InvertedIndex.postingsUnordered(docs)
      .where(col("df") >= 2).count()
    assert(q.count() === expect)
  }

  test("top-N pushdown: ORDER BY df DESC, word LIMIT n reaches the scan") {
    val q = table.select("word", "df")
      .orderBy(col("df").desc, col("word").asc).limit(10)
    val scan = scanOf(q)
    assert(scan.description().contains("PushedLimit: 10 (ordered=true)"),
      s"top-N not pushed: ${scan.description()}")
    // the per-file prefixes still merge to the exact global answer
    val got = q.collect().map(r => (r.getString(0), r.getLong(1))).toList
    val full = table.select("word", "df").collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .sortBy { case (w, df) => (-df, w) }.take(10).toList
    assert(got === full)
  }

  test("top-N pushdown declined when the order is not the file order") {
    // df ASC is not the artifact's grammar order — the source must
    // refuse, leaving Spark's own sort to do the work
    val q = table.select("word", "df")
      .orderBy(col("df").asc, col("word").asc).limit(10)
    val scan = scanOf(q)
    assert(!scan.description().contains("ordered=true"),
      s"ascending order wrongly claimed: ${scan.description()}")
    val got = q.collect().map(_.getLong(1)).toList
    assert(got === got.sorted, "Spark's sort must still apply")
  }

  test("plain LIMIT pushdown trims each reader without an order claim") {
    val q = table.limit(7)
    val scan = scanOf(q)
    assert(scan.description().contains("PushedLimit: 7 (ordered=false)"),
      s"limit not pushed: ${scan.description()}")
    assert(q.count() === 7)
  }

  test("unsorted artifact (no _GRAFT_SORTED): top-N is declined, not wrong") {
    val raw = java.nio.file.Files.createTempDirectory("graft_unsorted").toString
    val dir = new java.io.File(s"$raw/letter=a"); dir.mkdirs()
    // df order violated on disk — and honestly NOT marked sorted
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir.getPath, "part-00000.txt"),
      "ant:[3]\naardvark:[1 2]\n")
    val t = spark.read.format("graft-index").load(raw)
    assert(t.count() === 2)
    val q = t.select("word", "df").orderBy(col("df").desc).limit(2)
    // without the marker the source must refuse the push …
    assert(!scanOf(q).description().contains("ordered=true"),
      s"pushed top-N on an unmarked artifact: ${scanOf(q).description()}")
    // … and Spark's own sort yields the right answer anyway
    assert(q.collect().map(_.getString(0)).toList === List("aardvark", "ant"))
  }

  test("top-N order verification fails loudly when the marker lies") {
    val bad = java.nio.file.Files.createTempDirectory("graft_badidx").toString
    val dir = new java.io.File(s"$bad/letter=a"); dir.mkdirs()
    // df order violated: 'ant' (df=1) before 'aardvark' (df=2) — but
    // the artifact CLAIMS sortedness
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir.getPath, "part-00000.txt"),
      "ant:[3]\naardvark:[1 2]\n")
    java.nio.file.Files.createFile(
      java.nio.file.Paths.get(bad, "_GRAFT_SORTED"))
    val t = spark.read.format("graft-index").load(bad)
    // an unordered scan does not care about file order
    assert(t.count() === 2)
    // a pushed top-N leans on the order: a violation within the read
    // prefix (the only part the reader can see) must fail loudly
    val e = intercept[Exception] {
      t.select("word", "df").orderBy(col("df").desc).limit(2).collect()
    }
    def chain(t: Throwable): List[Throwable] =
      Option(t).map(x => x :: chain(x.getCause)).getOrElse(Nil)
    assert(chain(e).exists(c =>
      Option(c.getMessage).exists(_.contains("violates the df desc"))),
      s"unexpected failure: $e")
  }

  test("custom scan metrics: pruning and row-skip savings are observable") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val q = table.where(col("word") === "batch").select("word", "df")
      q.collect()
      val exec = q.queryExecution.executedPlan.collect {
        case b: BatchScanExec => b
      }.headOption.getOrElse(fail("no BatchScanExec"))
      val m = exec.metrics
      // driver-side: the letter cut is visible as planned vs pruned
      assert(m("plannedIndexFiles").value >= 1L, m.toString)
      assert(m("prunedIndexFiles").value >= 1L,
        s"letter pruning saved nothing? ${m.mapValues(_.value)}")
      // task-side: lines were parsed, and the non-matching words of
      // letter=b were dropped before any posting-list parse
      assert(m("indexLinesRead").value > 0L)
      assert(m("indexRowsSkipped").value > 0L)
      assert(m("indexLinesRead").value ===
        m("indexRowsSkipped").value + q.count())
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("every custom metric class survives the SQL-UI listener's reflective round-trip") {
    // Spark's SQLAppStatusListener aggregates DSv2 metrics by
    // Class.forName(metricType).getConstructor().newInstance() — a
    // zero-argument constructor is MANDATORY or the metric silently
    // never reaches the SQL UI (plus one SparkException per query).
    // Round-trip every class exactly the way the listener does and
    // pin that identity (name/description/aggregation) is preserved.
    val all = graft.sources.IndexMetrics.supported ++
      graft.sources.IndexMetrics.supportedWrite
    assert(all.map(_.name()).toSet === Set(
      "plannedIndexFiles", "prunedIndexFiles", "indexLinesRead",
      "indexRowsSkipped", "indexLinesWritten", "indexFilesWritten"))
    all.foreach { m =>
      val fresh = Class.forName(m.getClass.getName).getConstructor()
        .newInstance()
        .asInstanceOf[org.apache.spark.sql.connector.metric.CustomMetric]
      assert(fresh.name() === m.name(), s"${m.getClass.getName} name drift")
      assert(fresh.description() === m.description())
      // aggregation itself must behave: the Sum family folds task values
      assert(fresh.aggregateTaskMetrics(Array(2L, 3L, 5L)) === "10")
    }
  }

  test("COUNT(*) pushdown: per-file line counts, no row materialization") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val q = table.agg(count(lit(1)).as("n_words"))
      val scan = q.queryExecution.executedPlan.collect {
        case b: BatchScanExec => b.scan
      }.collectFirst { case s: IndexTextScan => s }
        .getOrElse(fail("no IndexTextScan"))
      assert(scan.description().contains("PushedAggregation: [COUNT(*)]"),
        s"count(*) not pushed: ${scan.description()}")
      // the scan serves the partial-count schema, not index rows
      assert(scan.readSchema().fieldNames.toSeq === Seq("count(*)"))
      val n = q.collect()(0).getLong(0)
      assert(n === InvertedIndex.postingsUnordered(docs).count())
      // a filtered count keeps the residual Filter above the scan, so
      // the aggregation must NOT push — and still answers correctly
      val filtered = table.where(col("word").startsWith("b"))
        .agg(count(lit(1)).as("n"))
      val fscan = filtered.queryExecution.executedPlan.collect {
        case b: BatchScanExec => b.scan
      }.collectFirst { case s: IndexTextScan => s }.get
      assert(!fscan.description().contains("PushedAggregation"))
      assert(filtered.collect()(0).getLong(0) ===
        InvertedIndex.postingsUnordered(docs)
          .where(col("word").startsWith("b")).count())
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("write-side metrics: the task writer counts lines and letter files") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.unsafe.types.UTF8String
    val staging = java.nio.file.Files.createTempDirectory("graft_wm").toString
    val w = new graft.sources.IndexTextDataWriter(
      staging, "t0", 0, graft.sources.IndexTextSource.Schema)
    def row(word: String, ids: Array[Long]) = InternalRow.fromSeq(Seq(
      UTF8String.fromString(word), ids.length.toLong, ArrayData.toArrayData(ids)))
    w.write(row("apple", Array(1L, 2L)))
    w.write(row("banana", Array(2L)))
    w.write(row("avocado", Array(3L)))
    val m = w.currentMetricsValues().map(t => t.name() -> t.value()).toMap
    assert(m("indexLinesWritten") === 3L)
    assert(m("indexFilesWritten") === 2L) // letters a and b
    w.abort()
  }

  test("runtime filtering: a selective dim join prunes letter files at run time") {
    // no static word predicate anywhere — the word set only exists
    // once the dim side has been evaluated (SupportsRuntimeFiltering)
    val dpp = Seq(
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly" -> "false",
      "spark.sql.optimizer.dynamicPartitionPruning.useStats" -> "false",
      "spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio" -> "1000")
    val saved = dpp.map { case (k, _) => k -> spark.conf.getOption(k) }
    dpp.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val dim = graft.functions.TextFns.docWords(
          docs.where(col("doc_id") === 5L))
        .select("word").distinct()
      val q = table.join(dim, "word").select("word", "df").orderBy("word")
      val got = q.collect().map(_.toString).toList
      val scan = q.queryExecution.executedPlan.collect {
        case b: BatchScanExec => b.scan
      }.collectFirst { case s: IndexTextScan => s }
        .getOrElse(fail("no IndexTextScan in the plan"))
      assert(scan.runtimeFilters.nonEmpty,
        "the dim's word set never reached the scan at run time")
      // files planned after the runtime IN-set < the full artifact
      val pruned = scan.plannedFiles.length
      val full = scanOf(table).plannedFiles.length
      assert(pruned < full, s"no file pruning: $pruned of $full")
      // and the result is the plain join's answer
      val expect = InvertedIndex.postingsUnordered(docs)
        .join(graft.functions.TextFns.docWords(
            docs.where(col("doc_id") === 5L)).select("word").distinct(),
          "word")
        .select("word", "df").orderBy("word").collect().map(_.toString).toList
      assert(got === expect)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("metadata columns: _letter is the bucket, _file the physical file") {
    val rows = table.select(col("word"), col("_letter"), col("_file"))
      .where(col("word").startsWith("b")).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getString(1) === r.getString(0).take(1))
      assert(r.getString(2).contains(s"letter=${r.getString(1)}"),
        s"_file ${r.getString(2)} not under letter=${r.getString(1)}")
    }
    // metadata columns stay out of SELECT *
    assert(table.columns.toSet === Set("word", "df", "postings"))
  }

  test("reported layout: per-letter aggregation plans with NO shuffle") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val q = IndexStore.letterProfileViaLayout(spark, indexDir)
      // drop the presentation orderBy: the claim is about the agg
      val agg = IndexStore.readIndexTable(spark, indexDir)
        .select(col("_letter").as("letter"), col("df"))
        .groupBy("letter")
        .agg(count(lit(1)).as("n_words"), sum(col("df")).as("sum_df"),
          max(col("df")).as("max_df"))
      val shuffles = agg.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => s
      }
      assert(shuffles.isEmpty,
        "letter-grouped agg still shuffles:\n" +
          agg.queryExecution.executedPlan.toString)
      // and the key-grouped answer ≡ the substring formulation
      val expect = table
        .select(substring(col("word"), 1, 1).as("letter"), col("df"))
        .groupBy("letter")
        .agg(count(lit(1)).as("n_words"), sum(col("df")).as("sum_df"),
          max(col("df")).as("max_df"))
        .orderBy("letter").collect().map(_.toString).toList
      assert(q.collect().map(_.toString).toList === expect)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("storage-partitioned join: two artifacts join with NO shuffle on either side") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val dirB = IndexStore.dsv2IndexFor(spark, testdataDir)
      val q = IndexStore.crossArtifactJoin(spark, indexDir, dirB)
      // the claim is about the join: strip the presentation orderBy
      val a = IndexStore.readIndexTable(spark, indexDir)
        .select(col("_letter").as("letter"), col("word"), col("df").as("df_text"))
      val b = IndexStore.readIndexTable(spark, dirB)
        .select(col("_letter").as("letter"), col("word"), col("df").as("df_v2"))
      val join = a.hint("merge").join(b, Seq("letter", "word"))
      val plan = join.queryExecution.executedPlan
      val shuffles = plan.collect {
        case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => s
      }
      assert(shuffles.isEmpty,
        s"storage-partitioned join still shuffles:\n$plan")
      assert(plan.collect {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      }.nonEmpty, s"expected a sort-merge join:\n$plan")
      // both artifacts index the same corpus: every word pairs with
      // itself and the two dfs agree
      val rows = q.collect()
      assert(rows.nonEmpty)
      rows.foreach(r => assert(r.getLong(1) === r.getLong(2)))
      assert(rows.length ===
        IndexStore.readIndexTable(spark, indexDir).count())
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("grouped COUNT pushdown: per-letter counts from file line counts alone") {
    val q = table.groupBy(col("_letter")).agg(count(lit(1)).as("n_words"))
    val scan = scanOf(q)
    assert(scan.description().contains("COUNT(*) GROUP BY _letter"),
      s"grouped aggregation not pushed: ${scan.description()}")
    assert(scan.readSchema().fieldNames.toSeq === Seq("_letter", "count(*)"))
    val got = q.collect().map(r => (r.getString(0), r.getLong(1))).sorted.toList
    val expect = table
      .select(substring(col("word"), 1, 1).as("l"))
      .groupBy("l").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted.toList
    assert(got === expect)
    // a word filter blocks the push (residual Filter above the scan)
    val filtered = table.where(col("word").startsWith("b"))
      .groupBy(col("_letter")).agg(count(lit(1)))
    assert(!scanOf(filtered).description().contains("GROUP BY"),
      "grouped aggregation must not push under a residual filter")
  }

  test("DELETE via SupportsDelete: word-shaped predicates rewrite only their letters") {
    val dir = java.nio.file.Files.createTempDirectory("graft_del").toString
    IndexStore.writeIndexTable(InvertedIndex.postingsUnordered(docs), dir)
    val before = IndexStore.readIndexTable(spark, dir)
      .select("word").collect().map(_.getString(0)).toSet
    assert(before.exists(_.startsWith("b")))
    // untouched letters keep their file bytes (delete must not rewrite them)
    val aFiles = Option(new java.io.File(dir, "letter=a").listFiles()).get
      .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .map(f => f.getName -> f.lastModified()).toMap
    spark.conf.set("spark.sql.catalog.graft_delspec",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_delspec.warehouse",
      new java.io.File(dir).getParent)
    val tbl = s"graft_delspec.`${new java.io.File(dir).getName}`"
    spark.sql(s"DELETE FROM $tbl WHERE word LIKE 'b%'")
    val after = IndexStore.readIndexTable(spark, dir)
      .select("word").collect().map(_.getString(0)).toSet
    assert(after === before.filterNot(_.startsWith("b")))
    Option(new java.io.File(dir, "letter=a").listFiles()).get
      .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .foreach(f => assert(f.lastModified() === aFiles(f.getName),
        s"letter=a file ${f.getName} was rewritten by a b-bounded delete"))
    // the surviving artifact still honors the R16 order: top-N stays legal
    assert(new java.io.File(dir, IndexTextSource.SortedMarker).exists)
    val top = IndexStore.readIndexTable(spark, dir)
      .select("word", "df").orderBy(col("df").desc, col("word")).limit(5)
    assert(top.collect().length === 5)
    // a predicate the source cannot evaluate exactly falls through to
    // the row-level COPY-ON-WRITE path (RowLevelOpsSpec) — here, pin
    // only that it is NOT the metadata path: letter files get rewritten
    val survivors = IndexStore.readIndexTable(spark, dir)
      .where(col("df") <= 2).select("word").collect().map(_.getString(0)).toSet
    spark.sql(s"DELETE FROM $tbl WHERE df > 2")
    assert(IndexStore.readIndexTable(spark, dir)
      .select("word").collect().map(_.getString(0)).toSet === survivors)
  }

  /** `body` with every planned file in a split of its own: a one-byte
    * split target closes each split after its first file. */
  private def oneFilePerSplit[T](body: => T): T = {
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1")
    try body finally spark.conf.unset("spark.sql.files.maxPartitionBytes")
  }

  test("packed splits ≡ one file per split, row for row") {
    // a fresh frame per run: a frame's physical plan (and its splits)
    // is planned once
    val queries = Seq[(String, () => org.apache.spark.sql.DataFrame, Boolean)](
      ("full scan", () => table.select("word", "df", "postings"), false),
      ("pushed top-N", () => table.select("word", "df")
        .orderBy(col("df").desc, col("word").asc).limit(25), true),
      ("word filter", () => table.where(col("word").isin("batch", "spark", "scan"))
        .select("word", "df", "postings"), false),
      ("COUNT(*)", () => table.agg(count(lit(1))), true))
    queries.foreach { case (what, q, ordered) =>
      def rows = {
        val r = q().collect().map(_.toString).toList
        if (ordered) r else r.sorted
      }
      val packed = rows
      val single = oneFilePerSplit(rows)
      assert(packed.nonEmpty, what)
      assert(packed === single, what)
    }
    // the packing happened: fewer splits than files, and the one-byte
    // target plans exactly one split per file
    val scan = scanOf(table.select("word", "df"))
    assert(scan.planInputPartitions().length < scan.plannedFiles.length)
    assert(scan.planInputPartitions().forall(_.isInstanceOf[IndexFilesPartition]))
    assert(oneFilePerSplit(scan.planInputPartitions()).length ===
      scan.plannedFiles.length)
    // COUNT(*) reads one partial row per file, never a packed split
    val countScan = scanOf(table.agg(count(lit(1))))
    assert(countScan.planInputPartitions().forall(_.isInstanceOf[IndexFilePartition]))
  }

  test("top-N order verification still fails inside a packed split") {
    val bad = java.nio.file.Files.createTempDirectory("graft_badpack").toString
    def write(letter: String, body: String) = {
      val dir = new java.io.File(s"$bad/letter=$letter"); dir.mkdirs()
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(dir.getPath, "part-00000.txt"), body)
    }
    // enough well-sorted letters that Spark's rule packs several files
    // per split, plus one mis-sorted under the marker: 'ant' (df=1)
    // before 'aardvark' (df=2)
    ('b' to 'h').foreach(l => write(l.toString, s"${l}x:[1 2 3]\n${l}y:[4]\n"))
    write("a", "ant:[3]\naardvark:[1 2]\n")
    java.nio.file.Files.createFile(java.nio.file.Paths.get(bad, "_GRAFT_SORTED"))
    val t = spark.read.format("graft-index").load(bad)
    val q = t.select("word", "df").orderBy(col("df").desc).limit(3)
    val withA = scanOf(q).planInputPartitions().collect {
      case IndexFilesPartition(files) if files.exists(_.file.contains("letter=a")) => files
    }
    assert(withA.length === 1 && withA.head.length > 1,
      s"the mis-sorted file is not in a packed split: ${withA.mkString(", ")}")
    val e = intercept[Exception](q.collect())
    def chain(t: Throwable): List[Throwable] =
      Option(t).map(x => x :: chain(x.getCause)).getOrElse(Nil)
    assert(chain(e).exists(c =>
      Option(c.getMessage).exists(_.contains("violates the df desc"))),
      s"unexpected failure: $e")
  }

  test("scans serving _letter stay key-grouped: one file per split") {
    val scan = scanOf(table.select(col("_letter"), col("word")))
    assert(scan.outputPartitioning().isInstanceOf[
      org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning])
    val parts = scan.planInputPartitions()
    assert(parts.length === scan.plannedFiles.length)
    assert(parts.forall(_.isInstanceOf[IndexFilePartition]))
  }
}
