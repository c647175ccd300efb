package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.ArtifactStore

/** Per-query SCALING-EXPONENT measurement for the heavy dedup rows
  * (round-7 verdict #4): runs q58 / q123 / q22 / q91 / q191 at three
  * corpus scales — sf0.01 (0.1×), sf0.1 (1×), and a synthesized 10×
  * corpus — and reports each query's fitted exponent
  * `α = log(t_10x / t_1x) / log 10`, the mechanical check that the
  * blocked/bucketed designs really are ~linear (α ≈ 1; an
  * all-pairs regression would read as α ≈ 2).
  *
  * The 10× corpus is 10 VOCABULARY-DISJOINT replicas of sf0.1's
  * documents: every token of replica k is prefixed with a letter tag
  * (`z<k>z…` — letters only, so the `[^A-Za-z]` normalizer keeps the
  * tag), which (a) preserves each replica's internal near-dup
  * structure EXACTLY (the token map is injective), and (b) makes
  * replicas mutually disjoint (no cross-replica candidate can arise),
  * so candidate volume, bucket occupancy, and component structure all
  * scale by precisely 10 — scale is the ONLY variable. doc_ids remap
  * to k·N + id. Built once ([[ArtifactStore.once]]) under the source
  * corpus's artifact root.
  *
  * Every (query, scale) run CLEARS the session artifact memos first —
  * the exponent must price the full operator including its sketch
  * build, not a memo hit. Times are min-of-2 (the suite's bench
  * convention). Output: one JSON line per query with the three times
  * and the exponent, plus a table ready for PLANS.md. */
object ScaleProbe {

  /** 10 disjoint tagged replicas of `docs` (see scaladoc). */
  private[tools] def replicate(docs: DataFrame, copies: Int, n: Long): DataFrame =
    docs
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        col("n_chars"),
        explode(sequence(lit(0), lit(copies - 1))).as("k"))
      .select(
        (col("k") * n + col("doc_id")).as("doc_id"),
        // token-wise letter tag: split → prefix each token → rejoin
        array_join(
          transform(split(col("text"), "\\s+"),
            t => concat(lit("z"), chr(col("k") + lit(97)), lit("z"), t)),
          " ").as("text"),
        col("lang"), col("source"), col("n_chars"))

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = graft.GraftSession(cpus.toInt, 32)

    val base = "/root/testdata/sf0.1/documents.parquet"
    val tenXPath = ArtifactStore.once(spark, ArtifactStore.corpusDir(
        "documents10x", new java.io.File(base).getParent, base)) { out =>
      val docs = spark.read.parquet(base)
      val n = docs.agg(max(col("doc_id"))).collect()(0).getLong(0) + 1
      replicate(docs, 10, n)
        .repartition(32).write.mode("overwrite").parquet(out)
    }

    def docsAt(scale: String): DataFrame = scale match {
      case "0.1x" => spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
      case "1x" => spark.read.parquet(base)
      case "10x" => spark.read.parquet(tenXPath)
    }

    val queries: Seq[(String, DataFrame => DataFrame)] = Seq(
      "q22_minhash_lsh" -> ((d: DataFrame) =>
        graft.operators.Dedup.minhashNearDup(d, 0.95)),
      "q58_dedup_clusters_scale" -> ((d: DataFrame) =>
        graft.operators.Dedup.dedupClustersScale(d, 0.95)),
      // since round 12 simhashMatchScale IS the 64-bit family (16-bit
      // blocks); the saturating 28-bit shape survives only as q91's
      // pinned oracle form and is deliberately NOT probed — its 1.23
      // exponent is a documented property of the legacy width
      // (BENCH_SCALE_r11.json), not of any scale path a user can reach
      "q91_simhash_match_scale" -> ((d: DataFrame) =>
        graft.operators.Dedup.simhashMatchScale(d, 3)),
      "q123_prefix_filter" -> ((d: DataFrame) =>
        graft.operators.Dedup.prefixFilterNearDup(d)),
      // round-12 audit rows: drop attribution is drop-count-bounded by
      // construction — the exponent makes that a number.
      "q278_drop_attribution" -> ((d: DataFrame) =>
        graft.operators.Dedup.dropAttribution(d, 0.95)),
      // round-13: q276 is probeable again — its 28-bit candidate stage
      // now rides the bounded deterministic audit slice (constant past
      // targetDocs=5000 docs), so the exponent must FLATTEN where the
      // unbounded form re-reported the legacy 1.23 saturation; the
      // production-width audit (64-bit, unsliced — 16-bit blocks stay
      // sublinear) is probed beside it
      "q276_simhash_calibration" -> ((d: DataFrame) =>
        graft.operators.Dedup.simhashCalibration(d, 3)),
      "q276b_simhash_calibration64" -> ((d: DataFrame) =>
        graft.operators.Dedup.simhashCalibration64(d, 3)),
      "q191_dup_ngram_rate" -> ((d: DataFrame) =>
        graft.operators.TextAnalysis.dupNgramRate(d)),
      // round-8 heavy rows: the incremental-cluster query form (cap =
      // half the id space, scaling with the corpus like the bench's
      // fixed split) and the trained-NB corpus scorer
      "q202_incremental_clusters" -> ((d: DataFrame) => {
        val cap = (d.agg(max(col("doc_id"))).head().getLong(0) + 1) / 2
        graft.operators.Dedup.incrementalClusters(d, cap, 0.95)
      }),
      "q209_nb_classifier" -> ((d: DataFrame) =>
        graft.operators.TextAnalysis.nbClassifier(d)),
      // round-8 continuation: the PassJoin blocking join — candidate
      // volume is fan-out-linear by construction; the exponent makes
      // that a measured number (replicas are length-disjoint only by
      // content, so cross-replica candidates CAN arise and the probe
      // prices them honestly)
      "q217_edit_distance_join" -> ((d: DataFrame) =>
        graft.operators.Dedup.editDistanceJoin(d)),
      // round-8 continuation: the heaviest new composition — LSH + CC
      // (via the cluster memo, cleared per run so it is priced) + the
      // 13-gram pass with a two-distinct Expand aggregation
      "q240_dedup_diversity" -> ((d: DataFrame) =>
        graft.operators.TextAnalysis.dedupDiversity(d)),
      // round-9 compositions over the same LSH pass: the split-leakage
      // audit (edges + two doc-keyed joins + a distinct) and the
      // keep-best keeper (labels + one max_by argmax + join-back)
      "q259_split_leakage" -> ((d: DataFrame) =>
        graft.operators.Sampling.splitLeakage(d)),
      "q260_cluster_keep_best" -> ((d: DataFrame) =>
        graft.operators.Dedup.keepBest(d)))

    // Round-10 (verdict #8): the remaining top-20 10× rows, measured
    // MATCHED-PROTOCOL on the TenX corpus — the same key-shifted /
    // rotated replica tables BENCH_10X's full-suite point runs on, so
    // these exponents and the suite point share a corpus definition.
    // (The letter-tagged replica above only covers documents;
    // embeddings/lineitem rows need the full-table 10× corpus.)
    import graft.sources.Tables
    val tenxDir = TenX.build(spark, "/root/testdata/sf0.1")
    def dirAt(scale: String): String = scale match {
      case "0.1x" => "/root/testdata/sf0.01"
      case "1x" => "/root/testdata/sf0.1"
      case "10x" => tenxDir
    }
    val tenxQueries: Seq[(String, String => DataFrame)] = Seq(
      "q92_kmeans_ivf" -> ((d: String) =>
        graft.operators.Similarity.kmeansAssign(Tables(spark, d, "embeddings"))),
      "q93_semantic_dedup" -> ((d: String) =>
        graft.operators.Similarity.semanticDedup(Tables(spark, d, "embeddings"), 0.4)),
      "q194_winnow" -> ((d: String) =>
        graft.operators.TextAnalysis.winnowFingerprints(Tables(spark, d, "documents"))),
      "q205_nsw_graph" -> ((d: String) =>
        graft.operators.Similarity.nswGraphQuery(Tables(spark, d, "embeddings"))),
      "q216_pca_bin_dedup" -> ((d: String) =>
        graft.operators.Similarity.pcaBinDedup(Tables(spark, d, "embeddings"))),
      "q219_wav_audiosystem" -> ((d: String) =>
        graft.operators.Multimodal.audioFeaturesLib(spark, Tables(spark, d, "documents"))),
      "q227_basket_pairs" -> ((d: String) =>
        graft.operators.Relational.basketPairs(Tables(spark, d, "lineitem"))),
      "q241_doc_keywords" -> ((d: String) =>
        graft.operators.TextAnalysis.docKeywords(Tables(spark, d, "documents"))))

    // FULL materialization: df.count() would let the optimizer drop
    // row-count-preserving subtrees (q191's 1:≤1 outer join vanishes
    // under count-only pruning — measured 0.13 s vs the real ~1 s);
    // toRdd.count() executes the plan that computes every output
    // column.
    def runFull(df: DataFrame): Unit = { df.queryExecution.toRdd.count(); () }

    // Round-11 (verdict #8): the four incremental families' PRODUCTION
    // cycles at the same three scales, matched protocol — STOREBENCH
    // prices them at 1× and 10× as ratios against the query forms;
    // this fits the exponent, so "production cost ∝ batch" becomes an
    // α. Stored artifacts are committed per scale as UNPRICED setup
    // (a pipeline paid them on yesterday's ingest) at the 99/1 split —
    // the realistic daily-ingest shape — and the timed path is only
    // what a daily run executes: sketch/score the 1% batch against the
    // stored side. Note the 99/1 split scales WITH the corpus (the
    // batch at 10× is itself 10× the 1× batch), so a batch-linear
    // production path reads α ≈ 1 and a path secretly rescanning the
    // stored corpus reads the same α as its query form — exactly the
    // distinction the probe exists to make.
    val scales = Seq("0.1x", "1x", "10x")
    val storeProbes: Seq[(String, String => DataFrame)] = {
      import graft.sources.{GraphStore, LabelStore, SketchStore}
      val threshold = 0.95
      val suffix = Map("0.1x" -> "01x", "1x" -> "1x", "10x" -> "10x")
      val setup = scales.map { s =>
        val sfx = suffix(s)
        val dir = dirAt(s)
        val docs = spark.read.parquet(s"$dir/documents.parquet")
        val emb = spark.read.parquet(s"$dir/embeddings.parquet")
        val ev = spark.read.parquet(s"$dir/events.parquet")
        def cap(df: DataFrame, c: String): Long =
          (df.agg(max(col(c))).head().getLong(0) + 1) * 99 / 100
        val (dCap, vCap, eCap) =
          (cap(docs, "doc_id"), cap(emb, "vec_id"), cap(ev, "event_id"))
        val vMax = emb.agg(max(col("vec_id"))).head().getLong(0) + 1
        val oldDocs = docs.where(col("doc_id") < dCap)
        val batchDocs = docs.where(col("doc_id") >= dCap)
        // Match the stores' ACTUAL derived-table naming (suffix goes
        // before _bands/_base/...: SketchStore.save writes
        // sp_sketch_${sfx}_bands, GraphStore writes sp_graph_${sfx}_base
        // etc.) — the earlier sp_sketch_bands_$sfx shape never dropped
        // anything real, leaving stale tables in the warehouse. Those
        // prior rounds' orphans are invisible to THIS session's
        // in-memory catalog (DROP TABLE no-ops) but their warehouse
        // DIRECTORIES remain and make saveAsTable refuse with
        // LOCATION_ALREADY_EXISTS — so also delete the locations.
        val wh = spark.conf.get("spark.sql.warehouse.dir")
          .stripPrefix("file:")
        Seq(s"sp_labels_$sfx", s"sp_keepers_$sfx",
          s"sp_sketch_$sfx", s"sp_sketch_${sfx}_bands",
          s"sp_sketch_${sfx}_sets",
          s"sp_graph_$sfx", s"sp_graph_${sfx}_base",
          s"sp_graph_${sfx}_refined", s"sp_graph_${sfx}_meta")
          .foreach { t =>
            spark.sql(s"DROP TABLE IF EXISTS $t")
            val loc = java.nio.file.Paths.get(wh, t)
            if (java.nio.file.Files.exists(loc)) {
              import scala.jdk.CollectionConverters._
              val walk = java.nio.file.Files.walk(loc)
              try walk.iterator().asScala.toSeq.reverse
                .foreach(java.nio.file.Files.deleteIfExists(_))
              finally walk.close()
            }
          }
        Memos.clearAll()
        SketchStore.save(oldDocs, s"sp_sketch_$sfx")
        Memos.clearAll()
        LabelStore.save(
          graft.operators.Dedup.dedupClustersScale(oldDocs, threshold),
          s"sp_labels_$sfx")
        Memos.clearAll()
        LabelStore.saveKeepers(
          graft.operators.Dedup.dedupOutput(oldDocs, threshold),
          s"sp_keepers_$sfx")
        Memos.clearAll()
        GraphStore.build(spark, s"sp_graph_$sfx",
          emb.where(col("vec_id") < vCap), vCap)
        val tmp = java.nio.file.Files
          .createTempDirectory(s"scaleprobe_store_$sfx").toString
        Memos.clearAll()
        graft.operators.Events.olsStateDelta(ev.where(col("event_id") < eCap))
          .write.mode("overwrite").parquet(s"$tmp/ols_state")
        Memos.clearAll()
        graft.operators.TextAnalysis.nbStateDelta(oldDocs)
          .write.mode("overwrite").parquet(s"$tmp/nb_state")
        s -> (sfx, tmp, batchDocs, emb, ev, eCap, vMax)
      }.toMap
      Seq(
        "q202_production_cycle" -> ((s: String) => {
          val (sfx, _, batchDocs, _, _, _, _) = setup(s)
          LabelStore.update(spark, s"sp_labels_$sfx", s"sp_sketch_$sfx",
            batchDocs, threshold)
        }),
        "q272_production_cycle" -> ((s: String) => {
          val (sfx, _, batchDocs, _, _, _, _) = setup(s)
          LabelStore.updateWithKeepers(spark, s"sp_labels_$sfx",
            s"sp_sketch_$sfx", s"sp_keepers_$sfx", batchDocs, threshold)._2
        }),
        "q206_production_cycle" -> ((s: String) => {
          val (sfx, _, _, emb, _, _, vMax) = setup(s)
          GraphStore.update(spark, s"sp_graph_$sfx", emb, vMax)._3
        }),
        "q218_production_cycle" -> ((s: String) => {
          val (_, tmp, _, _, ev, eCap, _) = setup(s)
          graft.operators.Events.olsProductionCycle(
            spark.read.parquet(s"$tmp/ols_state"),
            ev.where(col("event_id") >= eCap))
        }),
        "q223_production_cycle" -> ((s: String) => {
          val (_, tmp, batchDocs, _, _, _, _) = setup(s)
          graft.operators.TextAnalysis.nbProductionCycle(
            spark.read.parquet(s"$tmp/nb_state"), batchDocs)
        }))
    }

    val allProbes: Seq[(String, String => DataFrame)] =
      queries.map { case (n, f) => n -> ((s: String) => f(docsAt(s))) } ++
        tenxQueries.map { case (n, f) => n -> ((s: String) => f(dirAt(s))) } ++
        storeProbes
    // JVM/codegen warmup outside the measured window
    Memos.clearAll()
    allProbes.foreach { case (_, f) => runFull(f("0.1x")) }

    // Round-13 (verdict #6): some rows' honest cost axis is BYTES, not
    // rows — the TenX token tags inflate the 10× documents' text (and
    // hence q219's synthesized WAV payloads, 44 + 2·|text| bytes each)
    // ~1.5× past the 10-fold row count, so a byte-linear decoder graded
    // on the row axis reads α ≈ 1 + log₁₀1.5 ≈ 1.18 by construction.
    // For those rows the probe measures the actual bytes at 1× and 10×
    // (one cheap aggregate per scale) and fits the exponent on the
    // bytes axis: α = log(t₁₀/t₁) / log(B₁₀/B₁). Both axes are emitted.
    val byteAxis: Map[String, String => Long] = Map(
      "q219_wav_audiosystem" -> ((d: String) =>
        spark.read.parquet(s"$d/documents.parquet")
          .agg(sum(length(col("text")).cast("long") * 2 + 44))
          .head().getLong(0)))

    val rows = allProbes.map { case (name, f) =>
      val times = scales.map { s =>
        val t = (1 to 2).map { _ =>
          Memos.clearAll()
          val t0 = System.nanoTime()
          runFull(f(s))
          (System.nanoTime() - t0) / 1e9
        }.min
        s -> t
      }.toMap
      val (alpha, axisJson) = byteAxis.get(name) match {
        case Some(bytesAt) =>
          val b1 = bytesAt(dirAt("1x"))
          val b10 = bytesAt(dirAt("10x"))
          val a = math.log(times("10x") / times("1x")) /
            math.log(b10.toDouble / b1.toDouble)
          (a, s""","axis":"bytes","bytes_1x":$b1,"bytes_10x":$b10""")
        case None =>
          (math.log(times("10x") / times("1x")) / math.log(10.0), "")
      }
      println(f"""{"query":"$name","t_01x":${times("0.1x")}%.3f,"t_1x":${times("1x")}%.3f,"t_10x":${times("10x")}%.3f,"exponent_1x_to_10x":$alpha%.3f$axisJson}""")
      (name, times("0.1x"), times("1x"), times("10x"), alpha)
    }
    println("| query | sf0.01 (0.1×) s | sf0.1 (1×) s | 10× s | exponent 1×→10× |")
    println("|---|---|---|---|---|")
    rows.foreach { case (n, a, b, c, e) =>
      println(f"| $n | $a%.2f | $b%.2f | $c%.2f | $e%.2f |")
    }
    val worst = rows.map(_._5).max
    println(f"""{"metric":"scale_exponent_worst","value":$worst%.3f,"queries":${rows.size}}""")
    spark.stop()
    // mechanical gate: a superlinear regression (α substantially
    // above 1) fails the probe loudly
    if (worst > 1.35) sys.exit(1)
  }
}
