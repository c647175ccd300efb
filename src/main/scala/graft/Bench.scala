package graft
object Bench {
  /** Parse the per-query seconds out of a committed bench.json (our
    * own flat `"queries":{"name":sec,...}` shape — no JSON library in
    * the Spark-only dependency set). */
  private[graft] def parsePrevQueries(txt: String): Map[String, Double] = {
    val at = txt.indexOf("\"queries\"")
    if (at < 0) Map.empty
    else {
      val block = txt.drop(at)
      val end = block.indexOf("}")
      if (end < 0) Map.empty
      else "\"(q[A-Za-z0-9_]+)\"\\s*:\\s*([0-9][0-9.eE+-]*)".r
        .findAllMatchIn(block.take(end + 1))
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
    }
  }

  /** The full result line. Fields only ever append, so every earlier
    * field keeps its place; `cpus` (last) is the `local[N]` width of
    * the run — two points compare only at equal `cpus`. */
  private[graft] def resultJson(total: Double, queries: String,
      sfDir: String, runs: Int, extra: Int, protocol: String,
      heavy: String, vsPrev: String, failed: String, cpus: Int): String =
    s"""{"metric":"total","value":$total,"unit":"sec","queries":$queries,"sf":"$sfDir","runs":$runs,"agg":"min","extra_runs_gt2s":$extra,"protocol":"$protocol","heavy_rows":$heavy,"vs_prev":$vsPrev,"failed":$failed,"cpus":$cpus}"""

  /** One interleaved pass: run each query's action once, keeping the
    * per-query minimum in `best`. A query that throws joins `failed`
    * and its time is never a sample, so a failure cannot pass for a
    * fast query. */
  private[graft] def timePass(queries: Iterable[(String, () => Unit)],
      best: scala.collection.mutable.Map[String, Double],
      failed: scala.collection.mutable.Set[String]): Unit =
    for ((name, action) <- queries) {
      val t0 = System.nanoTime()
      try {
        action()
        val t = (System.nanoTime() - t0) / 1e9
        best(name) = math.min(best.getOrElse(name, Double.MaxValue), t)
      } catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"bench: $name failed: $e")
          failed += name
      }
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession(cpus.toInt, cpus.toInt, logLevel = "WARN")
    // Measurement-protocol pin (round-10 verdict #2): the 10× point
    // drifted round-over-round because corpus-keyed CROSS-JVM
    // artifacts (the demo indexes / sidecar copies / vector stores
    // under the corpus's artifact root) persist across runs — a
    // single-pass bench against a pre-warmed corpus prices reads where
    // a cold run prices builds. SPARK_GRAFT_BENCH_PROTOCOL=cold
    // deletes THIS corpus's artifact root before the first pass, so
    // the run prices each build exactly once; the value is stamped into the
    // output JSON so two rounds' points are comparable by inspection.
    // (Session memos always start cold — they die with the JVM.)
    val protocol = sys.env.getOrElse("SPARK_GRAFT_BENCH_PROTOCOL", "warm")
    require(protocol == "warm" || protocol == "cold",
      s"SPARK_GRAFT_BENCH_PROTOCOL must be warm|cold; got '$protocol'")
    if (protocol == "cold")
      println(s"""{"protocol":"cold","artifacts_cleared":${graft.sources.ArtifactStore.clearCorpus(sfDir)}}""")
    // JVM/codegen warmup so the first timed query doesn't absorb
    // session + whole-stage-codegen compilation cost (runs the
    // flagship pipeline once on the tiny sf0.001 corpus).
    try SparkEntry.entry(spark).count()
    catch { case _: Throwable => () }
    // min per query across INTERLEAVED full-suite passes (not 3
    // back-to-back runs of each query): single-run numbers on this VM
    // swing ±30% from scheduler/JIT jitter, and a multi-second host
    // noise burst can cover all consecutive repeats of one query (this
    // inflated q22/q23 3–6× in the round-2 driver bench). Interleaving
    // puts each query's samples minutes apart, so the min sees at
    // least one quiet window per query.
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    // optional comma-separated query-name filter for targeted timing;
    // unknown names are a hard error — a typo would otherwise emit an
    // empty bench whose total of 0.0 reads as an excellent result
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    only.foreach { names =>
      val unknown = names.diff(SparkEntry.queries.keySet)
      require(unknown.isEmpty, s"SPARK_GRAFT_BENCH_ONLY names not in SparkEntry.queries: ${unknown.mkString(",")}")
    }
    val picked = SparkEntry.queries.filter { case (n, _) => only.forall(_(n)) }
    def actions(qs: Iterable[(String, (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame)]) =
      qs.map { case (n, fn) => n -> (() => { fn(spark, sfDir).count(); () }) }
    // Cold protocol must hold for EVERY sample, not just pass 1: with
    // runs>1 the artifacts rebuilt during pass 1 would make min-of-N a
    // warm measurement stamped "cold" — exactly the silent drift the
    // pin exists to prevent. So before every pass after the first,
    // re-delete the corpus-keyed cross-JVM artifacts AND the in-JVM
    // session memos (sketch/codebook/anchor towers), so each sample
    // prices each build exactly once.
    def recoolBetweenPasses(): Unit = if (protocol == "cold") {
      graft.sources.ArtifactStore.clearCorpus(sfDir); graft.tools.Memos.clearAll()
    }
    val best = scala.collection.mutable.LinkedHashMap[String, Double]()
    val failed = scala.collection.mutable.LinkedHashSet[String]()
    for (r <- 0 until math.max(1, runs)) {
      if (r > 0) recoolBetweenPasses()
      timePass(actions(picked), best, failed)
    }
    // Variance pinning (round-5 verdict #8): rows with a multi-second
    // floor get EXTRA interleaved passes — their per-sample noise
    // exposure is the largest in absolute seconds, so the r4→r5
    // overlap drift (~1.3× uniform) was hardest to separate from real
    // regressions exactly on these rows. ≤2 s rows stay at min-of-
    // `runs`; >2 s rows become min-of-(runs+extra).
    val extra = sys.env.getOrElse("SPARK_GRAFT_BENCH_EXTRA_RUNS", "2").toInt
    val heavy = picked.filter { case (n, _) => best.get(n).exists(_ > 2.0) }
    for (_ <- 0 until math.max(0, extra)) {
      recoolBetweenPasses()
      timePass(actions(heavy), best, failed)
    }
    val results = best
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    val heavyNames = heavy.keys.map(n => s"\"$n\"").mkString("[", ",", "]")
    val failedNames = failed.map(n => s"\"$n\"").mkString("[", ",", "]")
    // Self-reporting drift vs the PREVIOUS round (round-11 verdict #8):
    // the host band moves whole benches by ±15% between rounds, so a
    // real single-query regression hides inside the uniform shift.
    // Model the shift robustly — median log-ratio over common queries =
    // the band, MAD-sigma around it = per-query noise — and flag only
    // queries that are BOTH statistical outliers (|z| > 3) and
    // materially slower (>0.3 s absolute), so noise cannot flip a row
    // red and a red row cannot hide in the band. Read the committed
    // bench.json BEFORE this run overwrites it.
    val vsPrev: String = {
      val prevPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_PREV", "bench.json")
      var prevMergedRuns = 1
      val prev: Map[String, Double] =
        try {
          val txt = new String(java.nio.file.Files.readAllBytes(
            java.nio.file.Paths.get(prevPath)), "UTF-8")
          // only compare same-corpus runs — a prev point at another
          // scale would read as a uniform "drift" of the scale factor
          val prevSf = "\"sf\"\\s*:\\s*\"([^\"]*)\"".r
            .findFirstMatchIn(txt).map(_.group(1))
          // a MERGED prev (min over N protocol runs) has ~N× this run's
          // samples per query; on heavy-tailed rows its min is
          // systematically lower, so a single-run comparison against it
          // can flag "regressions" that are pure sample-count asymmetry
          // (the round-12 q255/q264/q267 flags — all three reproduced
          // their committed values when re-sampled). Surface the
          // asymmetry in the block so a flag against a merged prev
          // reads "re-measure with the merged protocol first".
          prevMergedRuns = "\"merged_min_of_protocol_runs\"\\s*:\\s*(\\d+)".r
            .findFirstMatchIn(txt).map(_.group(1).toInt).getOrElse(1)
          if (prevSf.exists(_ != sfDir)) Map.empty else parsePrevQueries(txt)
        } catch { case _: Throwable => Map.empty }
      val common = results.toSeq.collect {
        case (k, cur) if prev.get(k).exists(_ > 0) && cur > 0 =>
          (k, prev(k), cur, math.log(cur / prev(k)))
      }
      if (common.size < 8) "null"
      else {
        def med(xs: Seq[Double]): Double = {
          val s = xs.sorted; val n = s.length
          if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
        }
        val logs = common.map(_._4)
        val m = med(logs)
        // 1.4826·MAD ≈ sigma for a normal core; floored so a freakishly
        // quiet pair of runs cannot turn 10 ms wiggles into outliers
        val sigma = math.max(1.4826 * med(logs.map(x => math.abs(x - m))), 0.04)
        val flagged = common.collect {
          case (k, p, c, lr)
              if math.abs((lr - m) / sigma) > 3.0 && (c - p) > 0.3 =>
            f""""$k":{"prev":$p%.3f,"cur":$c%.3f,"z":${(lr - m) / sigma}%.1f}"""
        }
        f"""{"prev_total":${common.map(_._2).sum}%.1f,"common":${common.size},"median_ratio":${math.exp(m)}%.4f,"sigma_log":$sigma%.4f,"prev_merged_runs":$prevMergedRuns,"flagged":${flagged.mkString("{", ",", "}")}}"""
      }
    }
    val json = resultJson(total, qs, sfDir, runs, extra, protocol,
      heavyNames, vsPrev, failedNames, cpus.toInt)
    // The full per-query JSON is ~4 KB at 100+ queries and every
    // BENCH_r1–r4 artifact shows "parsed": null with a truncated log
    // tail — so also (a) emit a SHORT single-line summary that survives
    // any tail truncation — printed BOTH before and after the full JSON
    // (round-14 verdict #2: the r14 driver tail cut the summary
    // mid-line when it trailed the full JSON, so whichever side a
    // future truncation window lands on, one complete copy survives) —
    // and (b) write file copies: the env-pointed path plus ./bench.json
    // in the repo working dir, which gets committed so the 2×-baseline
    // gate can be computed from data.
    val mean = if (results.nonEmpty) total / results.size else 0.0
    val nFlagged =
      if (vsPrev == "null") -1
      else "\"q[A-Za-z0-9_]+\":\\{".r.findAllIn(
        vsPrev.drop(vsPrev.indexOf("\"flagged\""))).length
    val summary = f"""{"metric":"total","value":$total%.3f,"unit":"sec","n_queries":${results.size},"mean_sec_per_query":$mean%.4f,"sf":"$sfDir","protocol":"$protocol","vs_prev_flagged":$nFlagged}"""
    println(summary)
    println(json)
    println(summary)
    for (path <- Seq(sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/tmp/bench.json"),
                     "bench.json"))
      try java.nio.file.Files.write(java.nio.file.Paths.get(path),
        (json + "\n").getBytes("UTF-8"))
      catch { case _: Throwable => () }
    spark.stop()
    // a query that threw fails the run (its name is in "failed")
    if (failed.nonEmpty) sys.exit(1)
  }
}
