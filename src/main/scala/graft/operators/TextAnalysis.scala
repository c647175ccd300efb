package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFns
import graft.tools.Memos

/** Corpus-level text analysis over `documents` — LLM-pipeline extension
  * (SURVEY §2.B last row). */
object TextAnalysis {

  /** q20 — per-language corpus stats: document count, vocabulary size,
    * mean tokens per document. One tokenize pass, one shuffle. */
  def textStats(docs: DataFrame): DataFrame =
    TextFns.tokens(docs, Seq("lang"))
      .groupBy("lang")
      .agg(
        countDistinct(col("doc_id")).as("n_docs"),
        countDistinct(col("word")).as("n_words"),
        round(count(lit(1)).cast("double") / countDistinct(col("doc_id")), 2)
          .as("avg_tokens"))
      .orderBy("lang")

  /** Stopword marker list for the heuristic scorers — fixed, engine-
    * independent. (The synthetic corpus shares one vocabulary across
    * langs, so the lang-ID heuristic is exercised mechanically; on real
    * corpora the per-language marker lists differ.) */
  val Stopwords: Seq[String] =
    Seq("the", "a", "of", "and", "in", "to", "is", "it")

  private def tokenAgg(docs: DataFrame): DataFrame =
    TextFns.tokens(docs)
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_tok"),
        sum(col("word").isin(Stopwords: _*).cast("long")).as("n_stop"),
        sum(length(col("word")).cast("long")).as("n_letters"))

  /** q27 — language identification (stopword-profile heuristic): the
    * classic n-gram/marker-word trick, all integer-ratio arithmetic so
    * both engines agree bit-for-bit. */
  def langId(docs: DataFrame): DataFrame =
    tokenAgg(docs)
      .withColumn("stop_ratio", col("n_stop").cast("double") / col("n_tok"))
      .withColumn("pred_lang", when(col("stop_ratio") >= 0.08, lit("en")).otherwise(lit("und")))
      .select("doc_id", "n_tok", "n_stop", "stop_ratio", "pred_lang")
      .orderBy("doc_id")

  /** q28 — document quality scoring: length / stopword / word-shape
    * signals combined into an integer score (each signal an exact
    * integer-ratio test → deterministic across engines). */
  def qualityScore(docs: DataFrame): DataFrame =
    tokenAgg(docs)
      .withColumn("mean_wlen", col("n_letters").cast("double") / col("n_tok"))
      .withColumn("stop_ratio", col("n_stop").cast("double") / col("n_tok"))
      .withColumn("score",
        (col("n_tok") >= 20 && col("n_tok") <= 80).cast("long") +
          (col("stop_ratio") < 0.2).cast("long") +
          (col("mean_wlen") >= 3.0 && col("mean_wlen") <= 8.0).cast("long"))
      .select("doc_id", "n_tok", "mean_wlen", "stop_ratio", "score")
      .orderBy("doc_id")

  /** q29 — token counting: whitespace tokens plus a BPE-ish subword
    * estimate (⌈len/4⌉ per word — the usual chars-per-token heuristic),
    * integer arithmetic end to end. */
  def tokenCount(docs: DataFrame): DataFrame =
    TextFns.tokens(docs)
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_ws_tokens"),
        sum(expr("(length(word) + 3) div 4")).as("n_bpe_est"),
        sum(length(col("word")).cast("long")).as("n_letters"))
      .orderBy("doc_id")

  /** q41 — TF-IDF term ranking: top-k terms per document by
    * tf·ln(N/df). One tokenize pass; the document frequency is a
    * `groupBy(word)` aggregate JOINED BACK on the word key — not a
    * `count(*) over (partition by word)` window (the round-4 shape):
    * under Zipf skew every posting of a hot word lands in ONE window
    * task with no map-side combine (~n_docs rows at web scale),
    * whereas the aggregate collapses the hot key map-side and the
    * join-back, though it shuffles on the same key, is AQE-skew-
    * splittable (windows are not). The df relation is vocabulary-sized
    * so it stays a SHUFFLE join — round-1's broadcast of it was the
    * unbounded-broadcast anti-pattern; only the one-row corpus count is
    * broadcast (bounded by construction). The tf subtree feeds both
    * sides of the join through the SAME (doc_id, word) exchange, which
    * exchange reuse dedups to one tokenize pass. Scores are rounded to
    * 6 dp for the rank key AND the output — `ln` is the one place both
    * engines' libm may differ in the last ulp. */
  def tfidfTopTerms(docs: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // round 14: tf rides the shared (doc_id, word, tf) leaf — q41 and
    // q241 fold the same relation, built once per corpus
    val (tf, handles) = docTermFreq(docs)
    val dfDim = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val nDocs = docs.select(countDistinct(col("doc_id")).as("n_docs"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("word").asc)
    val result = tf.join(dfDim, Seq("word"))
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf",
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= k)
      .select("doc_id", "rnk", "word", "tf", "df", "tfidf")
      .orderBy("doc_id", "rnk", "word")
    Dedup.finishWith(result, handles: _*)
  }

  /** Session memo of the per-document term-frequency relation
    * (doc_id, word, tf) — round-14 optimization: q41's TF-IDF ranking
    * and q241's keyword extraction both start from this exact
    * aggregation (their df/N towers are aggregates OF it), and each
    * was re-running the corpus tokenize + (doc, word) count per call.
    * Built once per corpus, the fusedSketch/bigram-tower discipline;
    * lazy (plan-audit) mode keeps the per-call tower. */
  private[operators] def docTermFreq(docs: DataFrame): (DataFrame, Seq[DataFrame]) = {
    def plan = TextFns.tokens(docs).groupBy("doc_id", "word")
      .agg(count(lit(1)).as("tf"))
    if (!Dedup.eagerMaterialize(docs)) {
      val p = plan.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      (p, Seq(p))
    } else
      (Memos.get("tf", docs, ())(Memos.checkpointWide(plan))(
        sys.error("docTermFreq lazy path must persist and return handles")),
        Nil)
  }

  /** The distinct (doc_id, word) relation, served from the tf leaf in
    * eager mode — round-14 optimization: `TextFns.docWords` (tokenize →
    * distinct) is the entry stage of the whole index family (q02–q06,
    * q37, q38's df side, q84's co-occurrence pairs), and the tf leaf's
    * key set IS that relation (tokens.groupBy(doc_id, word) groups ≡
    * tokens.distinct rows), so every consumer reads one shared build
    * instead of re-tokenizing. Lazy (plan-audit) mode keeps the plain
    * tokenize→distinct plan — towers stay auditable and the lazy path
    * needs no persist (it never did). */
  private[operators] def docWordsShared(docs: DataFrame): DataFrame =
    if (Dedup.eagerMaterialize(docs))
      docTermFreq(docs)._1.select("doc_id", "word")
    else TextFns.docWords(docs)

  /** Non-building peek at the shared leaf (round 15): Some((doc_id,
    * word)) only when the tf leaf ALREADY exists for this exact corpus
    * frame. For towers that must keep their own tokenize when the leaf
    * is absent — capped/sliced consumers whose raw plan pushes the
    * doc_id predicate into the parquet scan (a leaf build would scan
    * the full corpus for a bounded query), and single-consumer towers
    * not worth a checkpoint of their own. A capped frame's semanticHash
    * differs from the corpus frame's, so a peek on it simply misses. */
  private[operators] def docWordsLeafPeek(docs: DataFrame): Option[DataFrame] =
    Memos.peek[DataFrame]("tf", docs, ()).map(_.select("doc_id", "word"))

  /** q44 — document chunking: fixed-width character windows with
    * overlap (`step` < `width`), the standard pre-tokenization split a
    * training pipeline feeds to the tokenizer. Pure expressions —
    * `sequence` + `explode` + `substring` — so the whole op stays in
    * WholeStageCodegen and scales as one narrow map stage (no shuffle
    * at all until the final presentation sort). chunk_id is the
    * 0-based window index; the last chunk may be short. */
  def chunkDocs(docs: DataFrame, width: Int, step: Int): DataFrame =
    docs
      .where(length(col("text")) >= 1)
      .select(col("doc_id"),
        explode(sequence(lit(1), length(col("text")), lit(step))).as("p"),
        col("text"))
      .select(
        col("doc_id"),
        ((col("p") - 1) / step).cast("long").as("chunk_id"),
        expr(s"substring(text, p, $width)").as("chunk"))
      .withColumn("chunk_len", length(col("chunk")).cast("long"))
      .orderBy("doc_id", "chunk_id")

  /** q50 — repetition scoring: the duplicate-n-gram quality rule
    * (high `dup_ratio` / `top_share` flags boilerplate and generated
    * spam — the classic corpus-filter signal). Two chained
    * aggregations — (doc, gram) counts, then per-doc ratios — both
    * shuffled on doc_id-prefixed keys with map-side partials; ratios
    * are divisions of exact integers so both engines agree
    * bit-for-bit. */
  def repetitionScore(docs: DataFrame, n: Int = 4): DataFrame =
    docs.where(length(col("text")) >= n)
      .select(col("doc_id"),
        explode(sequence(lit(1), length(col("text")) - (n - 1))).as("p"),
        col("text"))
      .select(col("doc_id"), expr(s"substring(text, p, $n)").as("gram"))
      .groupBy("doc_id", "gram")
      .agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(
        sum(col("c")).as("n_grams"),
        count(lit(1)).as("n_distinct"),
        max(col("c")).as("max_c"))
      .select(
        col("doc_id"),
        col("n_grams").cast("long").as("n_grams"),
        col("n_distinct"),
        (lit(1.0) - col("n_distinct").cast("double") / col("n_grams")).as("dup_ratio"),
        (col("max_c").cast("double") / col("n_grams")).as("top_share"))
      .orderBy("doc_id")

  /** q53 — regex extraction: occurrences of a pattern per document
    * (count + first match). Spark's Java regex and DuckDB's RE2 agree
    * on this grammar subset (character classes + greedy `+`); patterns
    * using lookaround/backrefs would NOT be portable and are out of
    * contract. Codegen'd `regexp_extract_all`, no shuffle.
    *
    * The group index MUST be an explicit 0 (whole match): the 2-arg
    * Spark form defaults to group 1 and THROWS on any match when the
    * pattern has no capture group — a latent crash the round-2 review
    * caught because the original default pattern happened to match
    * nothing in the corpus (a vacuously green query). */
  def regexExtract(docs: DataFrame, pattern: String = "[a-z]+er"): DataFrame =
    docs
      .select(col("doc_id"),
        regexp_extract_all(col("text"), lit(pattern), lit(0)).as("ms"))
      .select(
        col("doc_id"),
        size(col("ms")).cast("long").as("n_matches"),
        when(size(col("ms")) > 0, element_at(col("ms"), 1))
          .otherwise(lit("")).as("first_match"))
      .orderBy("doc_id")

  /** q30 — document fingerprinting: rolling polynomial hash of the full
    * raw text (the cheap pre-filter for exact-dup detection when you
    * don't want to ship md5 strings around). */
  def fingerprint(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), TextFns.polyHash(col("text")).as("fp"))
      .orderBy("doc_id")

  /** q60 — train/eval contamination check: fraction of each document's
    * distinct character `n`-grams that also occur in the EVAL SET
    * (docs with doc_id < `evalCap` — in a real pipeline, the benchmark
    * suite). This is the standard decontamination signal run before
    * training. The eval gram universe is BROADCAST — bounded by the
    * eval set's size (a fixed benchmark, not the corpus), so this is a
    * bounded broadcast by construction; the corpus side is one gram
    * explosion + one aggregation, linear end to end. Eval docs score
    * 1.0 by construction (a built-in sanity row). */
  def contamination(docs: DataFrame, evalCap: Long = 20L, n: Int = 12): DataFrame = {
    val grams = docs.where(length(col("text")) >= n)
      .select(col("doc_id"),
        explode(sequence(lit(1), length(col("text")) - (n - 1))).as("p"),
        col("text"))
      .select(col("doc_id"), expr(s"substring(text, p, $n)").as("gram"))
      .distinct()
    val evalGrams = grams.where(col("doc_id") < evalCap)
      .select("gram").distinct().withColumn("hit", lit(1L))
    grams.join(broadcast(evalGrams), Seq("gram"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_grams"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .withColumn("contamination", col("n_hit").cast("double") / col("n_grams"))
      .orderBy("doc_id")
  }

  /** Ordered token list per document — promoted to TextFns.orderedWords
    * in round 3 (span dedup and pack assembly need the same shape). */
  private def orderedWords = TextFns.orderedWords

  /** Per-document adjacent bigram stream `(doc_id, w1, w2)` with
    * multiplicity — the ONE bigram-extraction contract shared by the
    * q62 model and the q88 scorer (q88 scores documents under q62's
    * counts, so the two must tokenize-and-pair identically by
    * construction, not by parallel maintenance). One narrow
    * order-preserving projection; stays in codegen. */
  private def docBigrams(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), orderedWords.as("ws"))
      .where(size(col("ws")) >= 2)
      .select(col("doc_id"),
        explode(sequence(lit(1), size(col("ws")) - 1)).as("i"),
        col("ws"))
      .select(col("doc_id"),
        element_at(col("ws"), col("i")).as("w1"),
        element_at(col("ws"), col("i") + 1).as("w2"))

  /** Session memo of the per-doc bigram-multiplicity relation
    * (doc_id, w1, w2, m) — round-14 optimization. Three oracle-gated
    * consumers start from this exact relation (q62's model counts sum
    * it over docs, q88's scorer and q265's reference-LM gate fold it
    * per doc — q268 rides q265 whole), and each was re-running the
    * corpus tokenize + pair explode + (doc,w1,w2) aggregation per
    * call. The leaf is the per-doc-deduplicated counts — strictly
    * smaller than the bigram stream (the q88 round-6 argument), now
    * built once per corpus instead of once per consumer.
    *
    * Returns the relation plus the persist handles the caller must
    * release via `finishWith` — the fusedSketch contract: eager mode
    * memoizes a checkpoint leaf (nothing to release); lazy mode
    * persists the full tower so Explain sees it. */
  private def docBigramCounts(docs: DataFrame): (DataFrame, Seq[DataFrame]) = {
    def plan = docBigrams(docs).groupBy("doc_id", "w1", "w2")
      .agg(count(lit(1)).as("m"))
    if (!Dedup.eagerMaterialize(docs)) {
      val p = plan.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      (p, Seq(p))
    } else
      (Memos.get("bigrams", docs, ())(Memos.checkpointWide(plan))(
        sys.error("docBigramCounts lazy path must persist and return handles")),
        Nil)
  }

  /** q62 — bigram language model: global (w1, w2) counts with the
    * conditional probability p(w2|w1) = c(w1,w2)/c(w1,·), top-`k`
    * bigrams. The order-preserving tokenize is one narrow projection
    * (explode of index positions — stays in codegen); counting is one
    * shuffle on (w1,w2); the w1 marginal is a `groupBy(w1)` aggregate
    * joined back on w1 (a hot w1 like "the" pairs with a vocabulary-
    * sized set of w2 — a partition-only window would put them all in
    * one unsplittable task; the aggregate collapses map-side and the
    * join is AQE-splittable); top-k is a TakeOrdered, not a full sort.
    * Probabilities are exact integer ratios — bit-identical across
    * engines. */
  def bigramLm(docs: DataFrame, k: Int = 50): DataFrame = {
    // q62 only needs the GLOBAL (w1, w2) counts. When the shared
    // per-doc multiplicity leaf already exists (round 14: q88/q265
    // build it), fold it — Σ_doc m(doc, w1, w2) ≡ count over the
    // bigram stream, so the model is unchanged while the tokenize pass
    // is shared. When it does NOT exist yet (first consumer, and every
    // cold/lazy run), aggregate the bigram stream in ONE level instead
    // of paying the (doc_id, w1, w2) pre-aggregation + checkpoint that
    // only the per-doc consumers need — the r14 verdict's one
    // code-linked regression (q62 0.67 → 1.01 s), recovered without
    // touching what q62 computes (identical counts either way).
    val c = Memos.peek[DataFrame]("bigrams", docs, ()) match {
      case Some(b) => b.groupBy("w1", "w2").agg(sum(col("m")).as("c"))
      case None =>
        docBigrams(docs).groupBy("w1", "w2").agg(count(lit(1)).as("c"))
    }
    val cw1 = c.groupBy("w1").agg(sum(col("c")).as("c_w1"))
    c.join(cw1, Seq("w1"))
      .withColumn("cond_p", col("c").cast("double") / col("c_w1"))
      .orderBy(col("c").desc, col("w1").asc, col("w2").asc)
      .limit(k)
  }

  /** q88 — language-model scoring (the perplexity-filter signal): each
    * document's mean bigram log-probability under the corpus's own
    * bigram model (q62's counts applied back to the documents).
    * Pipelines drop the lowest-scoring tail as gibberish and flag the
    * highest as boilerplate. The per-term values are
    * ln(c(w1,w2)/c(w1·)) of exact integer-ratio doubles; each term is
    * FLOOR-QUANTIZED to integer micros BEFORE summing (the q65
    * quantized-mean trick) because a double sum is partitioning- and
    * order-dependent — the integer SUM is then exact on any engine
    * and any partitioning, and the mean divides back out at the end.
    * What quantization does NOT remove: the floor's input is libm
    * `ln`, which the engines only contract to within 1 ulp — a term
    * landing within an ulp of an exact micro boundary could floor
    * differently per engine (the same boundary class as q41's 6-dp
    * rounding; empirically bit-identical on these inputs, and a
    * divergence fails verify loudly rather than corrupting silently).
    * Shape: one ordered-tokenize pass to per-doc bigrams, one count
    * aggregation on the (w1, w2) key + a `groupBy(w1)` marginal joined
    * back on w1 (not a partition-only window — the q41/q62/q84 de-skew:
    * hot-w1 rows collapse map-side and the join is AQE-splittable),
    * one shuffle join of bigrams to their counts on the pair key, one
    * per-doc aggregation — all keyed, no broadcast of anything
    * vocabulary-sized. */
  def lmScore(docs: DataFrame): DataFrame = {
    // Per-doc bigram MULTIPLICITIES first, computed ONCE (round-6
    // re-shape): the raw bigram stream fed three plan subtrees — model
    // counts, the w1 marginal, and the scoring join — and ExecProbe
    // showed AQE reusing NONE of their exchanges, so the corpus-wide
    // tokenize+explode executed three times. Folding the stream into
    // (doc_id, w1, w2) -> m and persisting that ONE relation pins the
    // tokenize pass to exactly one execution (AQE stage-reuse got only
    // 1 of the 3 copies — the self-join's attribute re-aliasing misses
    // the stage cache — so reuse is made structural, not heuristic).
    // At 100 TB the tokenize dominates, so this is the difference
    // between one corpus scan and three; the persisted relation is the
    // per-doc-deduplicated counts, strictly smaller than the stream it
    // replaces, and its lifecycle follows the suite-wide finishWith
    // contract (released before return in eager mode, parked for the
    // plan auditors in lazy mode). Scoring weights by m (sum(m),
    // sum(m·lp_q)) — exactly the per-occurrence sums, so the contract
    // output is unchanged.
    // round 14: the relation is the session-memoized shared leaf
    // (q62/q88/q265 — one tokenize+pair pass per corpus, not three)
    val (b, handles) = docBigramCounts(docs)
    val c12 = b.groupBy("w1", "w2").agg(sum(col("m")).as("c12"))
    val c1 = b.groupBy("w1").agg(sum(col("m")).as("c1"))
    val result = b.join(c12.join(c1, Seq("w1")), Seq("w1", "w2"))
      .withColumn("lp_q",
        floor(log(col("c12").cast("double") / col("c1")) * 1e6).cast("long"))
      .groupBy("doc_id")
      .agg(sum(col("m")).as("n_bigrams"),
        sum(col("m") * col("lp_q")).as("sum_lp_q"))
      .withColumn("avg_logprob",
        col("sum_lp_q").cast("double") / 1e6 / col("n_bigrams"))
      .orderBy("doc_id")
    Dedup.finishWith(result, handles: _*)
  }

  /** q265 — REFERENCE-LM quality filter, the CCNet shape that q88's
    * self-scored model deliberately is not: the bigram model trains on
    * a REFERENCE slice (`refLang`, the curated corpus a pipeline
    * trusts) and scores EVERY candidate document, so a doc's score
    * measures distance from the reference distribution rather than
    * from the corpus scoring itself — the difference between "is this
    * fluent?" and "does this look like my training data?", which is
    * the question an ingest gate actually asks. Unlike q88, candidate
    * bigrams can be UNSEEN, so the model is add-one smoothed:
    * lp(w2|w1) = ln((c12+1)/(c1+V+1)) for reference-seen w1 (V = the
    * reference's distinct continuation types; the +1 absorbs OOV), and
    * a uniform ln(1/(V+1)) when w1 itself is unseen. Emitted as MEAN
    * NLL in positive micros ((−Σ) div n — positive territory, the
    * fdiv lesson) plus the keep verdict at `keepNllMicros`; a doc
    * with no bigrams (≤1 token) cannot be scored and is DROPPED
    * explicitly (keep = false, null score) — every doc gets a
    * verdict, the q69 contract.
    *
    * Scale shape: ONE tokenize pass (the persisted per-doc bigram
    * multiplicities — q88's round-6 re-shape) feeds training and
    * scoring; the model rides the scoring stream as an EQUI JOIN on
    * the bigram key (broadcast while it fits, shuffle join when a
    * 100 TB reference vocabulary doesn't); V is one broadcast scalar.
    * Every ln floor-quantized to micros before summation (the shared
    * convention), so the score is an exact integer on any engine and
    * partitioning. */
  def referenceLmFilter(docs: DataFrame, refLang: String = "en",
      keepNllMicros: Long = 7000000L): DataFrame = {
    // round 14: shared leaf (see docBigramCounts) — q265 and its q268
    // calibration stop re-tokenizing the corpus q88 already paid for
    val (b, handles) = docBigramCounts(docs)
    val refB = b.join(
      docs.where(col("lang") === refLang).select("doc_id"), "doc_id")
    val c12 = refB.groupBy("w1", "w2").agg(sum(col("m")).as("c12"))
    val c1 = refB.groupBy("w1").agg(sum(col("m")).as("c1"))
    val v = c12.agg(countDistinct(col("w2")).as("v"))
    val scored = b
      .join(c12, Seq("w1", "w2"), "left")
      .join(c1, Seq("w1"), "left")
      .crossJoin(broadcast(v))
      .withColumn("lp_q",
        when(col("c1").isNotNull,
          floor(log((coalesce(col("c12"), lit(0L)) + lit(1L)).cast("double") /
            (col("c1") + col("v") + lit(1L)).cast("double")) * 1e6)
            .cast("long"))
          .otherwise(
            floor(log(lit(1.0) / (col("v") + lit(1L)).cast("double")) * 1e6)
              .cast("long")))
      .groupBy("doc_id")
      .agg(sum(col("m")).as("n_bigrams"),
        sum(col("m") * col("lp_q")).as("sum_lp_q"))
    val result = docs.select("doc_id", "lang")
      .join(scored, Seq("doc_id"), "left")
      .withColumn("n_bigrams", coalesce(col("n_bigrams"), lit(0L)))
      .withColumn("nll_mean_micros",
        when(col("n_bigrams") > 0L,
          expr("(-sum_lp_q) div n_bigrams")))
      .withColumn("keep", col("nll_mean_micros").isNotNull &&
        col("nll_mean_micros") <= keepNllMicros)
      .select("doc_id", "lang", "n_bigrams", "nll_mean_micros", "keep")
      .orderBy("doc_id")
    Dedup.finishWith(result, handles: _*)
  }

  /** q268 — CALIBRATION of the q265 reference-LM gate: the keep-rate
    * curve that turns `keepNllMicros` from an asserted parameter into
    * a number read off a gated relation (round-10 verdict #4 — the
    * q225 ROC shape applied to the reference-LM gate). Over the
    * HELD-OUT q45 split (bucket ≥ 90 — docs the threshold choice must
    * not have seen), scoreable docs group into 1e5-wide NLL buckets
    * (a tenth of a nat — mean-NLL mass concentrates, so micro-wide
    * buckets would collapse the curve to a point);
    * each row is the operating point "keep everything scoring AT OR
    * BELOW this bucket": cumulative docs kept, overall keep rate, the
    * keep rate among reference-language docs (the recall proxy — how
    * much trusted-looking data survives) and among the rest (the
    * admission proxy — how much distribution-distant data leaks
    * through). Where a gate owner picks the threshold is the knee of
    * (ref_keep_rate, nonref_keep_rate); PipelineOpsSpec pins the
    * curve's monotonicity and the shipped default's position on it.
    *
    * Engine shape: the q265 scoring is reused AS A WHOLE (one
    * definition — the gate and its calibration can never drift), the
    * split is q45's stateless hash projection, and the cumulative
    * runs over the BOUNDED bucket histogram (the q225/q148 rule: the
    * only unpartitioned window never sees the corpus). All-integer
    * micros; zero-denominator edges pin to the 1e6 vacuous-truth
    * convention. */
  def refLmCalibration(docs: DataFrame, refLang: String = "en"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val held = referenceLmFilter(docs, refLang)
      .join(Sampling.hashSplit(docs).where(col("split") === "val")
        .select("doc_id"), "doc_id")
      .where(col("nll_mean_micros").isNotNull)
    val per = held
      .groupBy(expr("nll_mean_micros div 100000").as("bkt"))
      .agg(count(lit(1)).as("n_docs"),
        sum((col("lang") === refLang).cast("long")).as("n_ref"))
    val wLe = Window.orderBy("bkt")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val totals = broadcast(per.agg(sum(col("n_docs")).as("nn"),
      sum(col("n_ref")).as("rr")))
    per
      .withColumn("kept", sum(col("n_docs")).over(wLe))
      .withColumn("kept_ref", sum(col("n_ref")).over(wLe))
      .crossJoin(totals)
      .select(col("bkt"), col("n_docs"), col("n_ref"), col("kept"),
        col("kept_ref"),
        expr("CASE WHEN nn = 0 THEN 1000000 " +
          "ELSE kept * 1000000 div nn END").as("keep_rate_micros"),
        expr("CASE WHEN rr = 0 THEN 1000000 " +
          "ELSE kept_ref * 1000000 div rr END").as("ref_keep_rate_micros"),
        expr("CASE WHEN nn - rr = 0 THEN 1000000 " +
          "ELSE (kept - kept_ref) * 1000000 div (nn - rr) END")
          .as("nonref_keep_rate_micros"))
      .orderBy("bkt")
  }

  /** q209 — a TRAINED token classifier scoring the whole corpus: the
    * classifier-distillation step every production quality/language
    * filter runs (CCNet/fastText shape — a cheap seed labeling trains
    * a linear model, the model scores EVERYTHING, the score gates the
    * corpus). The seed is q27's marker-word language gate (stop_ratio
    * ≥ 0.08 — eight stopwords) on the deterministic doc_id % 3 ≠ 0
    * split; the trained model generalizes it to the FULL vocabulary:
    * held-out accuracy beats the majority prior by >0.1
    * (spec-pinned), i.e. the model learned correlated vocabulary the
    * eight-word heuristic never sees. Multinomial Naive Bayes with
    * Laplace smoothing — chosen deliberately: training IS relational
    * aggregation (no gradient loop), so the whole train→score chain
    * replays in the oracle and the hash gates the MODEL itself, not
    * just the plumbing. A document's score is the prior log-odds plus
    * the occurrence-weighted sum of per-token log-likelihood ratios.
    *
    * Every ln term is FLOOR-QUANTIZED to integer micros before any sum
    * (the q88 convention) so the per-doc score is an exact integer sum
    * on any engine and any partitioning. Scale shape: ONE tokenize
    * pass feeds labeling, training, and scoring (persisted per-doc
    * multiplicities — strictly smaller than the token stream); the
    * model joins the scoring stream as an EQUI JOIN on the word key —
    * Catalyst broadcasts it while it fits (as at test scale) and
    * degrades to a shuffle join when a 100 TB vocabulary doesn't,
    * with hot-word skew AQE-splittable; nothing here REQUIRES the
    * model to fit in memory. The one-row totals relation broadcasts
    * by construction. Unseen-at-train tokens take the smoothed
    * zero-count likelihood via the left join's coalesce — the
    * mathematically-correct Laplace default, not a dropped term. */
  def nbClassifier(docs: DataFrame): DataFrame =
    nbScoredLabeled(docs)
      .select("doc_id", "n_tok", "score_q", "pred")
      .orderBy("doc_id")

  /** The q209 quantized-ln convention, shared by the whole NB family. */
  private def lnQ(num: org.apache.spark.sql.Column,
      den: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    floor(log(num.cast("double") / den.cast("double")) * 1e6).cast("long")

  /** The q209 TRAINING stages — (persisted doc×word counts, seed
    * labels, one-row consts, word→w_q model) — shared by the batch
    * scorer below and the [[nbModelArtifact]] export the streaming
    * gate loads. One definition, so the deployed model can never
    * drift from the gated one. */
  private def nbParts(docs: DataFrame)
      : (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame => DataFrame) = {
    val (tc, labels, fin) = nbBaseShared(docs)
    val (consts, model) = nbFromState(
      nbCountState(tc, labels, lit(true)), nbPriorState(labels, lit(true)))
    (tc, labels, consts, model, fin)
  }

  /** Session-shared (tc, labels) — the ONE tokenize+label pass behind
    * the whole classifier family (q209/q213/q214 via the scored memo,
    * q221 selection, q223 incremental, q224 selected, q225/q226 eval,
    * the model artifact): the sketch-memo discipline applied to the
    * family's common prefix. Returns the pair plus the FINISH function
    * the consumer must apply to its result — on the memo path the
    * leaves are checkpointed (wide, the q91 lesson) and nothing needs
    * releasing; on the lazy/audit path the per-query persisted tc
    * rides the normal finishWith lifecycle. */
  private def nbBaseShared(docs: DataFrame)
      : (DataFrame, DataFrame, DataFrame => DataFrame) =
    if (!Dedup.eagerMaterialize(docs)) {
      val (tc, labels) = nbBase(docs)
      (tc, labels, r => Dedup.finishWith(r, tc))
    } else {
      val (tc, labels) = Memos.get("nbBase", docs, ()) {
        val (t, l) = nbBase(docs)
        try (Memos.checkpointWide(t), Memos.checkpointWide(l))
        finally t.unpersist()
      } { val (t, l) = nbBase(docs); (t, l) }
      (tc, labels, r => Dedup.finishWith(r))
    }

  /** The shared tokenize + seed-label stages: persisted (doc, word, m)
    * multiplicities and q27's stop-ratio gate as an exact
    * integer-ratio double compare over the SAME persisted relation. */
  private def nbBase(docs: DataFrame): (DataFrame, DataFrame) = {
    val tc = TextFns.tokens(docs)
      .groupBy("doc_id", "word")
      .agg(count(lit(1)).as("m"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val labels = tc.groupBy("doc_id")
      .agg((sum(when(col("word").isin(Stopwords: _*), col("m"))
        .otherwise(0L)).cast("double") / sum(col("m")) >= 0.08).as("pos"))
    (tc, labels)
  }

  /** The NB FIT STATE, count half: per-class token counts over the
    * train split restricted by `docPred` — plain sums, so two states
    * MERGE BY ADDITION (the q218 additivity that licenses q223). */
  private def nbCountState(tc: DataFrame, labels: DataFrame,
      docPred: org.apache.spark.sql.Column): DataFrame =
    tc.where(col("doc_id") % 3 =!= 0 && docPred)
      .join(labels, "doc_id")
      .groupBy("word")
      .agg(sum(when(col("pos"), col("m")).otherwise(0L)).as("c_pos"),
        sum(when(!col("pos"), col("m")).otherwise(0L)).as("c_neg"))

  /** The NB fit state, prior half: labeled-doc counts (also plain
    * sums) over the train split restricted by `docPred`. */
  private def nbPriorState(labels: DataFrame,
      docPred: org.apache.spark.sql.Column): DataFrame =
    labels.where(col("doc_id") % 3 =!= 0 && docPred)
      .agg(sum(when(col("pos"), 1L).otherwise(0L)).as("n_pos"),
        sum(when(!col("pos"), 1L).otherwise(0L)).as("n_neg"))

  /** Close the model from the fit state: one-row totals (class token
    * mass + vocabulary size, the Laplace denominator), broadcast
    * consts, per-word quantized log-likelihood-ratio weights. The
    * vocabulary size is COUNT of state rows — derivable from the
    * merged state, which is what makes the state self-contained. */
  private def nbFromState(ct: DataFrame, pri: DataFrame)
      : (DataFrame, DataFrame) = {
    val tot = ct.agg(sum(col("c_pos")).as("tot_pos"),
      sum(col("c_neg")).as("tot_neg"), count(lit(1)).as("v"))
    val consts = broadcast(tot.crossJoin(pri))
    val model = ct.crossJoin(consts)
      .withColumn("w_q", lnQ(col("c_pos") + 1L, col("tot_pos") + col("v")) -
        lnQ(col("c_neg") + 1L, col("tot_neg") + col("v")))
      .select("word", "w_q")
    (consts, model)
  }

  /** The trained q209 model as ONE portable relation — the artifact a
    * pipeline stores and a scorer (batch elsewhere, or the streaming
    * keep/drop gate) loads: per-word weight rows (`kind = 'w'`) plus
    * the two scalars the scoring formula needs — the prior log-odds
    * (`kind = 'prior'`) and the unseen-token default weight
    * (`kind = 'default'`). Same training stages as the gated scorer
    * ([[nbParts]]), so a stored model is exactly the verified one. */
  def nbModelArtifact(docs: DataFrame): DataFrame = {
    val (_, _, consts, model, fin) = nbParts(docs)
    val art = model.select(lit("w").as("kind"), col("word"), col("w_q"))
      .unionByName(consts.select(lit("prior").as("kind"),
        lit(null).cast("string").as("word"),
        lnQ(col("n_pos"), col("n_neg")).as("w_q")))
      .unionByName(consts.select(lit("default").as("kind"),
        lit(null).cast("string").as("word"),
        (lnQ(lit(1L), col("tot_pos") + col("v")) -
          lnQ(lit(1L), col("tot_neg") + col("v"))).as("w_q")))
    fin(art)
  }

  /** The q209 train→score chain with the SEED LABEL kept on every row
    * — the shared core of the classifier family: q209 projects it to
    * the scored corpus, q213/q214 evaluate the held-out third against
    * the seed labels. One definition, so the scored relation the
    * metrics judge is the scored relation the classifier ships.
    * Session-memoized (the sketch-memo discipline — three queries,
    * one train+score pass); the DURABLE artifact of this family is
    * the model itself ([[nbModelArtifact]]), not the scored corpus,
    * so the memo is deliberately not store-backed. */
  private[graft] def nbScoredLabeled(docs: DataFrame): DataFrame =
    Memos.get("nbScored", docs, ())(
      nbScoredBuild(docs))(nbScoredBuild(docs))

  private def nbScoredBuild(docs: DataFrame): DataFrame = {
    val (tc, labels, consts, model, fin) = nbParts(docs)
    nbScoreAll(tc, labels, consts, model, fin)
  }

  /** Score EVERY doc with a closed model: left join keeps unseen
    * tokens, coalescing to the smoothed zero-count ratio; prior added
    * once per doc. Shared by the from-scratch chain and q223's
    * merged-state chain — one scoring definition, so incremental ≡
    * rebuild reduces to state equality. */
  private def nbScoreAll(tc: DataFrame, labels: DataFrame,
      consts: DataFrame, model: DataFrame,
      fin: DataFrame => DataFrame): DataFrame = {
    val result = tc.join(model, Seq("word"), "left")
      .crossJoin(consts)
      .withColumn("w_eff", coalesce(col("w_q"),
        lnQ(lit(1L), col("tot_pos") + col("v")) -
          lnQ(lit(1L), col("tot_neg") + col("v"))))
      .groupBy("doc_id")
      .agg(sum(col("m")).as("n_tok"),
        (max(lnQ(col("n_pos"), col("n_neg"))) +
          sum(col("m") * col("w_eff"))).as("score_q"))
      .withColumn("pred", col("score_q") > 0L)
    fin(result.join(labels, "doc_id"))
  }

  /** The q223 fit state as ONE portable mergeable relation — per-word
    * count rows (`kind = 'w'`) and the doc-prior row (`kind =
    * 'prior'`, counts riding the same two columns), so ONE additive
    * rule — `groupBy(kind, word).sum` — merges any number of stored
    * states and batch partials (the property the streaming delta sink
    * leans on: every epoch appends a partial, the read-side fold
    * closes the state, and the model re-closes from state alone
    * exactly as q223 proves). */
  def nbStateDelta(docs: DataFrame): DataFrame = {
    val (tc, labels) = nbBase(docs)
    val state = nbCountState(tc, labels, lit(true))
      .select(lit("w").as("kind"), col("word"), col("c_pos"), col("c_neg"))
      .unionByName(nbPriorState(labels, lit(true))
        .select(lit("prior").as("kind"),
          lit(null).cast("string").as("word"),
          col("n_pos").as("c_pos"), col("n_neg").as("c_neg")))
    Dedup.finishWith(state, tc)
  }

  /** The PRODUCTION path of q223's maintenance cycle: the stored fit
    * state (the [[nbStateDelta]] shape, read back from storage)
    * merged with the arriving batch's partials by the ONE additive
    * rule, the model re-closed from state alone, and ONLY the batch
    * tokenized and scored — no old document is ever touched. Labeling
    * is row-local (a doc's own stop-ratio), so batch-only labeling ≡
    * full-corpus labeling by construction, and the scorer is the one
    * shared [[nbScoreAll]] definition — a batch doc's score here is
    * bit-identical to its row in the full q209 run (spec-pinned).
    * q223 is this path's oracle-convention twin (it rebuilds the
    * stored side in-query so the DuckDB oracle can replay it);
    * StoreBench prices the two side by side. */
  def nbProductionCycle(storedState: DataFrame, batch: DataFrame): DataFrame = {
    val (tc, labels) = nbBase(batch)
    val batchState = nbCountState(tc, labels, lit(true))
      .select(lit("w").as("kind"), col("word"), col("c_pos"), col("c_neg"))
      .unionByName(nbPriorState(labels, lit(true))
        .select(lit("prior").as("kind"),
          lit(null).cast("string").as("word"),
          col("n_pos").as("c_pos"), col("n_neg").as("c_neg")))
    // the merged state is read by FOUR consumers (totals, model,
    // prior, and the scorer's model join) — checkpoint the one
    // vocabulary-bounded fold so each consumer reads the leaf instead
    // of re-running the stored-parquet + batch-partial union (eager
    // mode only; the audit path keeps the lazy plan)
    val merged0 = storedState.unionByName(batchState)
      .groupBy("kind", "word")
      .agg(sum(col("c_pos")).as("c_pos"), sum(col("c_neg")).as("c_neg"))
    val merged = if (Dedup.eagerMaterialize(batch))
      merged0.localCheckpoint(true) else merged0
    val ct = merged.where(col("kind") === "w")
      .select("word", "c_pos", "c_neg")
    val pri = merged.where(col("kind") === "prior")
      .select(col("c_pos").as("n_pos"), col("c_neg").as("n_neg"))
    val (consts, model) = nbFromState(ct, pri)
    nbScoreAll(tc, labels, consts, model, r => Dedup.finishWith(r, tc))
      .select("doc_id", "n_tok", "score_q", "pred")
      .orderBy("doc_id")
  }

  /** q223 — INCREMENTAL maintenance of the trained classifier: merge ≡
    * rebuild extended to the newest trained-model family. The NB fit
    * state is (word, c_pos, c_neg) token counts plus the (n_pos,
    * n_neg) doc priors — ALL plain sums, so yesterday's stored state
    * (stand-in: train docs below `cap`, the q202/q218 oracle
    * convention — production loads the state relation from storage
    * and tokenizes only the batch) merges with the new batch's
    * partials BY ADDITION; the Laplace vocabulary size is the merged
    * state's row count, so the model re-closes from state alone —
    * no old document is ever re-tokenized on the production path.
    * Labeling is row-local (a doc's own stop-ratio), so per-split
    * labeling ≡ full-corpus labeling by construction. Oracle = q209's
    * from-scratch text VERBATIM — the hash match IS merge ≡ rebuild
    * (the law now spans sketches, postings, labels, graph,
    * regression, and the trained classifier). Scoring reuses the ONE
    * shared definition ([[nbScoreAll]]), so the proof reduces to fit-
    * state equality. */
  def nbIncremental(docs: DataFrame, cap: Long = 300L): DataFrame = {
    val (tc, labels, fin) = nbBaseShared(docs)
    val ct = nbCountState(tc, labels, col("doc_id") < cap)
      .unionByName(nbCountState(tc, labels, col("doc_id") >= cap))
      .groupBy("word")
      .agg(sum(col("c_pos")).as("c_pos"), sum(col("c_neg")).as("c_neg"))
    val pri = nbPriorState(labels, col("doc_id") < cap)
      .unionByName(nbPriorState(labels, col("doc_id") >= cap))
      .agg(sum(col("n_pos")).as("n_pos"), sum(col("n_neg")).as("n_neg"))
    val (consts, model) = nbFromState(ct, pri)
    nbScoreAll(tc, labels, consts, model, fin)
      .select("doc_id", "n_tok", "score_q", "pred")
      .orderBy("doc_id")
  }

  /** q213 — the classifier's EVAL GATE as an oracle-gated relation:
    * confusion matrix + accuracy / precision / recall / F1 over the
    * held-out third (doc_id % 3 == 0, never seen in training) against
    * the q27 seed labels — the metrics row a production distillation
    * loop actually promotes or rejects a model on. Every ratio is an
    * exact integer-micros division (`div` truncation ≡ DuckDB `//` on
    * the non-negative operands here), so the row replays bit-for-bit;
    * zero-denominator cases pin to 1_000_000 (the q146 vacuous-truth
    * convention) rather than NULL. Scale: the metrics are ONE
    * aggregation over the scored relation — four boolean counts — so
    * the eval costs one extra reduce over what q209 already pays. */
  def nbEval(docs: DataFrame): DataFrame =
    nbScoredLabeled(docs)
      .where(col("doc_id") % 3 === 0)
      .agg(count(lit(1)).as("n_test"),
        sum((col("pred") && col("pos")).cast("long")).as("tp"),
        sum((col("pred") && !col("pos")).cast("long")).as("fp"),
        sum((!col("pred") && col("pos")).cast("long")).as("fn"),
        sum((!col("pred") && !col("pos")).cast("long")).as("tn"))
      .withColumn("acc_micros", expr("(tp + tn) * 1000000 div n_test"))
      .withColumn("prec_micros", expr(
        "CASE WHEN tp + fp = 0 THEN 1000000 ELSE tp * 1000000 div (tp + fp) END"))
      .withColumn("rec_micros", expr(
        "CASE WHEN tp + fn = 0 THEN 1000000 ELSE tp * 1000000 div (tp + fn) END"))
      .withColumn("f1_micros", expr(
        "CASE WHEN 2 * tp + fp + fn = 0 THEN 1000000 " +
          "ELSE 2 * tp * 1000000 div (2 * tp + fp + fn) END"))

  /** q214 — AUC as RELATIONAL ALGEBRA: the threshold-free ranking
    * metric (Mann–Whitney rank-sum) over the held-out third, exact in
    * integer 2×-units (a positive-above-negative pair counts 2, an
    * equal-score pair counts 1 — the standard tie convention with no
    * halves). The naive shape is a corpus-sized unpartitioned window
    * (single-task sort — the q148 trap); this is the two-level
    * histogram form instead: per-score counts roll up into
    * ~1e6-wide score BUCKETS, the global cumulative sum runs over the
    * BOUNDED bucket histogram (the only unpartitioned window —
    * range/1e6 rows, never corpus-sized), and within-bucket
    * cumulatives are windows PARTITIONED by bucket. Bucketing uses an
    * explicit pmod floor-div — Spark `div` truncates toward zero while
    * DuckDB `//` floors, and scores go negative, so the naive div
    * would silently disagree at engine boundaries. Headroom: the
    * micros numerator overflows past ~2e12 pos×neg held-out pairs;
    * the bound is ENFORCED (`Guards.headroomMul` — a named error
    * citing the DECIMAL(38,0) promotion, not a silent wrap or an
    * anonymous ANSI overflow). */
  def nbAuc(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val per = nbScoredLabeled(docs)
      .where(col("doc_id") % 3 === 0)
      .groupBy("score_q")
      .agg(sum(col("pos").cast("long")).as("n_p"),
        sum((!col("pos")).cast("long")).as("n_n"))
      .withColumn("bkt", expr(
        "(score_q - ((score_q % 1000000) + 1000000) % 1000000) div 1000000"))
    val wBkt = Window.orderBy("bkt")
      .rowsBetween(Window.unboundedPreceding, -1)
    val below = per.groupBy("bkt").agg(sum(col("n_n")).as("bn"))
      .withColumn("below_bkt", coalesce(sum(col("bn")).over(wBkt), lit(0L)))
      .select("bkt", "below_bkt")
    val wIn = Window.partitionBy("bkt").orderBy("score_q")
      .rowsBetween(Window.unboundedPreceding, -1)
    per.join(below, "bkt")
      .withColumn("in_bkt", coalesce(sum(col("n_n")).over(wIn), lit(0L)))
      .agg(sum(col("n_p")).as("n_pos"), sum(col("n_n")).as("n_neg"),
        sum(col("n_p") * (lit(2L) * (col("below_bkt") + col("in_bkt")) +
          col("n_n"))).as("auc_num2"))
      .withColumn("auc_num6", graft.functions.Guards.headroomMul(
        col("auc_num2"), lit(1000000L), "q214 auc_num2*1e6"))
      .withColumn("auc_den", graft.functions.Guards.headroomMul(
        col("n_pos"), col("n_neg"), "q214 n_pos*n_neg"))
      .withColumn("auc_micros", expr(
        "CASE WHEN auc_den = 0 THEN 1000000 " +
          "ELSE auc_num6 div (2 * auc_den) END"))
      .drop("auc_num6", "auc_den")
  }

  /** q225 — the ROC CURVE as a relation: the threshold sweep a model
    * gate runs to PICK its cutoff (q213 is one point, q214 the area,
    * this the whole curve). One row per ~1e6-wide score BUCKET over
    * the held-out third: (tp, fp) = held-out docs scoring AT OR ABOVE
    * the bucket (the "keep everything from here up" operating point),
    * TPR/FPR in exact integer micros. The cumulative-from-above sums
    * run over the BOUNDED bucket histogram — the q214/q148 shape; the
    * only unpartitioned window never sees the corpus — and bucketing
    * reuses q214's explicit pmod floor-div (scores go negative).
    * Zero-class edges pin to the 1e6 vacuous-truth convention. */
  def nbRoc(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val per = nbScoredLabeled(docs)
      .where(col("doc_id") % 3 === 0)
      .groupBy(expr(
        "(score_q - ((score_q % 1000000) + 1000000) % 1000000) div 1000000")
        .as("bkt"))
      .agg(sum(col("pos").cast("long")).as("b_p"),
        sum((!col("pos")).cast("long")).as("b_n"))
    val wGe = Window.orderBy(col("bkt").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val totals = broadcast(per.agg(sum(col("b_p")).as("pp"),
      sum(col("b_n")).as("nn")))
    per
      .withColumn("tp", sum(col("b_p")).over(wGe))
      .withColumn("fp", sum(col("b_n")).over(wGe))
      .crossJoin(totals)
      .select(col("bkt"), col("tp"), col("fp"),
        expr("CASE WHEN pp = 0 THEN 1000000 ELSE tp * 1000000 div pp END")
          .as("tpr_micros"),
        expr("CASE WHEN nn = 0 THEN 1000000 ELSE fp * 1000000 div nn END")
          .as("fpr_micros"))
      .orderBy("bkt")
  }

  /** q226 — CALIBRATION bins (the reliability diagram as a relation):
    * does the score MEAN what it claims? Held-out docs grouped by the
    * same score bucket; per bucket the predicted-positive share and
    * the ACTUAL seed-label-positive share, both in exact integer
    * micros — the divergence between them is the miscalibration a
    * production gate reads before trusting a cutoff. One aggregation
    * over the shared scored relation; rows bounded by the score
    * range, never the corpus. */
  def nbCalibration(docs: DataFrame): DataFrame =
    nbScoredLabeled(docs)
      .where(col("doc_id") % 3 === 0)
      .groupBy(expr(
        "(score_q - ((score_q % 1000000) + 1000000) % 1000000) div 1000000")
        .as("bkt"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("pred").cast("long")).as("n_pred_pos"),
        sum(col("pos").cast("long")).as("n_actual_pos"))
      .withColumn("pred_rate_micros",
        expr("n_pred_pos * 1000000 div n_docs"))
      .withColumn("actual_rate_micros",
        expr("n_actual_pos * 1000000 div n_docs"))
      .orderBy("bkt")

  /** q221 — chi-squared FEATURE SELECTION over the q209 label split:
    * the step a classifier-distillation pipeline runs between seed
    * labeling and training — rank every vocabulary token by its
    * class association and keep the top k, so the deployed model
    * carries thousands of weights instead of the full open
    * vocabulary. Document-level 2×2 contingency per word on the TRAIN
    * split (a = pos docs containing it, b = neg docs; c/d their
    * complements against the one-row class totals), χ² =
    * n·(ad−bc)²/((a+b)(c+d)·np·nn). The determinant and every margin
    * are EXACT BIGINT products (doc counts, so the 2^53 double-mantissa
    * ceiling is ~9e7 labeled train docs per class — the oracle
    * convention; past that the det cast moves to DECIMAL(38,0));
    * the single double expression has IDENTICAL text on both engines
    * and floor-quantizes to micros AFTER all arithmetic, so the
    * ranking replays bit-for-bit. Words present in EVERY train doc
    * (c+d = 0 — 'the' at corpus scale) take χ² = 0 via the explicit
    * zero-denominator guard rather than NaN. Scale shape: reuses
    * q209's ONE persisted (doc,word,m) fold (presence = row
    * existence); the contingency is a vocabulary-sized aggregation;
    * class totals are a one-row broadcast; top-k via orderBy+limit
    * plans TakeOrdered — nothing corpus-sized crosses an exchange
    * after the first fold. `pos_assoc` reports the association
    * DIRECTION as an exact integer cross-multiply (a·nn > b·np), the
    * χ² statistic being direction-blind. */
  def chi2Features(docs: DataFrame, k: Int = 50, minDf: Long = 5L): DataFrame = {
    val (tc, labels, fin) = nbBaseShared(docs)
    fin(chi2Ranked(tc, labels, k, minDf))
  }

  /** The q221 ranking over an existing (tc, labels) pair — shared
    * with q224 so selection and training read ONE tokenize pass. */
  private def chi2Ranked(tc: DataFrame, labels: DataFrame,
      k: Int, minDf: Long): DataFrame = {
    val train = tc.where(col("doc_id") % 3 =!= 0).join(labels, "doc_id")
    val cls = broadcast(labels.where(col("doc_id") % 3 =!= 0)
      .agg(sum(when(col("pos"), 1L).otherwise(0L)).as("np"),
        sum(when(!col("pos"), 1L).otherwise(0L)).as("nn")))
    val contingency = train.groupBy("word")
      .agg(sum(when(col("pos"), 1L).otherwise(0L)).as("df_pos"),
        sum(when(!col("pos"), 1L).otherwise(0L)).as("df_neg"))
      .where(col("df_pos") + col("df_neg") >= minDf)
      .crossJoin(cls)
      .withColumn("cc", col("np") - col("df_pos"))
      .withColumn("dd", col("nn") - col("df_neg"))
      .withColumn("det", (col("df_pos") * col("dd") -
        col("df_neg") * col("cc")).cast("double"))
    val scored = contingency.withColumn("chi2_q",
      when((col("df_pos") + col("df_neg")) * (col("cc") + col("dd")) === 0L ||
          col("np") * col("nn") === 0L, 0L)
        .otherwise(floor(lit(1e6) *
          ((col("np") + col("nn")).cast("double") * col("det") * col("det") /
            (((col("df_pos") + col("df_neg")) * (col("cc") + col("dd"))).cast("double") *
              (col("np") * col("nn")).cast("double")))).cast("long")))
      .withColumn("pos_assoc", col("df_pos") * col("nn") > col("df_neg") * col("np"))
      .select("word", "df_pos", "df_neg", "chi2_q", "pos_assoc")
      .orderBy(col("chi2_q").desc, col("word")).limit(k)
    scored
  }

  /** q224 — the q221 → q209 COMPOSITION: Naive Bayes trained on the
    * chi2-selected vocabulary only — the deployed shape of a
    * distilled quality filter (a bounded model of k weights instead
    * of the open vocabulary, the memory/latency trade every
    * production fastText-style gate makes). Training counts, the
    * Laplace totals, and the vocabulary size all restrict to the
    * selected words (v = |selection| — the smoothing mass matches the
    * model that ships); scoring keeps EVERY document (out-of-selection
    * tokens contribute NOTHING — they are out-of-vocabulary by
    * design, not Laplace-defaulted — so a doc with no selected token
    * scores exactly the prior, spec-pinned), and `n_sel` reports how
    * many of a doc's occurrences the bounded model actually saw. The
    * selection is the q221 ranking VERBATIM (shared builder over the
    * same persisted tokenize), so the oracle replays selection +
    * restricted training + scoring in one text. Scale: the k-row
    * selection broadcasts into the vocabulary-sized count state;
    * everything downstream is the q209 shape. */
  def nbSelected(docs: DataFrame, k: Int = 50, minDf: Long = 5L): DataFrame = {
    val (tc, labels, fin) = nbBaseShared(docs)
    val sel = chi2Ranked(tc, labels, k, minDf).select("word")
    val tcSel = tc.join(broadcast(sel), "word")
    val (consts, model) = nbFromState(
      nbCountState(tcSel, labels, lit(true)), nbPriorState(labels, lit(true)))
    val result = tc.join(model, Seq("word"), "left")
      .crossJoin(consts)
      .groupBy("doc_id")
      .agg(sum(when(col("w_q").isNotNull, col("m")).otherwise(0L)).as("n_sel"),
        (max(lnQ(col("n_pos"), col("n_neg"))) +
          sum(col("m") * coalesce(col("w_q"), lit(0L)))).as("score_q"))
      .withColumn("pred", col("score_q") > 0L)
      .select("doc_id", "n_sel", "score_q", "pred")
      .orderBy("doc_id")
    fin(result)
  }

  /** q69 — the corpus FILTER PIPELINE: the composition step that turns
    * the individual quality signals (q27 language-ID, q28 quality
    * score, q50 repetition) into a per-document keep/drop decision
    * with a reason — what actually gates a training corpus. The
    * language and quality signals share ONE token aggregation (their
    * q27/q28 twins each run their own — joining those would pay the
    * tokenize shuffle twice); the gram-based repetition signal is a
    * second aggregation left-joined on doc_id; the decision itself is
    * a pure projection. Rule order fixes the reason deterministically:
    * language, then quality, then repetition. */
  def filterPipeline(docs: DataFrame): DataFrame = {
    // lang + quality both derive from ONE tokenAgg pass (joining
    // langId⋈qualityScore would run the tokenize aggregation twice —
    // column pruning specializes the two subtrees beyond exchange
    // reuse, so Catalyst cannot fuse them back)
    val lq = tokenAgg(docs)
      .withColumn("stop_ratio", col("n_stop").cast("double") / col("n_tok"))
      .withColumn("mean_wlen", col("n_letters").cast("double") / col("n_tok"))
      .select(col("doc_id"),
        when(col("stop_ratio") >= 0.08, lit("en")).otherwise(lit("und")).as("pred_lang"),
        ((col("n_tok") >= 20 && col("n_tok") <= 80).cast("long") +
          (col("stop_ratio") < 0.2).cast("long") +
          (col("mean_wlen") >= 3.0 && col("mean_wlen") <= 8.0).cast("long")).as("score"))
    val r = repetitionScore(docs).select("doc_id", "dup_ratio")
    lq
      .join(r, Seq("doc_id"), "left") // docs shorter than the gram width have no row
      .withColumn("dup_ratio", coalesce(col("dup_ratio"), lit(0.0)))
      .withColumn("keep",
        col("pred_lang") === "en" && col("score") >= 2 && col("dup_ratio") < 0.5)
      .withColumn("reason",
        when(col("pred_lang") =!= "en", lit("lang"))
          .when(col("score") < 2, lit("quality"))
          .when(col("dup_ratio") >= 0.5, lit("repetition"))
          .otherwise(lit("keep")))
      .select("doc_id", "pred_lang", "score", "dup_ratio", "keep", "reason")
      .orderBy("doc_id")
  }

  /** [[filterPipeline]] INSTRUMENTED with the Observation API — the
    * telemetry a production corpus gate ships with: total / kept /
    * per-reason drop counts accumulated ON THE EXECUTORS during the
    * one pass that computes the decision (an `AggregatingAccumulator`
    * under a CollectMetrics node — NOT a second aggregation job, and
    * NOT a driver-side recount of collected rows). At 100 TB the
    * difference is running the pipeline once vs twice; the spec pins
    * the observed metrics ≡ an independent recount. */
  def filterPipelineObserved(docs: DataFrame)
      : (DataFrame, org.apache.spark.sql.Observation) = {
    val obs = new org.apache.spark.sql.Observation("filter_pipeline")
    val out = filterPipeline(docs).observe(obs,
      count(lit(1)).as("n_docs"),
      sum(col("keep").cast("long")).as("n_kept"),
      sum((col("reason") === "lang").cast("long")).as("n_lang"),
      sum((col("reason") === "quality").cast("long")).as("n_quality"),
      sum((col("reason") === "repetition").cast("long")).as("n_repetition"))
    (out, obs)
  }

  /** q79 — vocabulary frequency table: the top-`k` corpus words with
    * raw counts and CUMULATIVE corpus coverage — the statistic a
    * BPE/vocab-construction step reads off first ("how many tokens do
    * the top-k words cover?"). One tokenize aggregation (shuffle on
    * word, map-side partials), a TakeOrdered top-k, and the cumulative
    * share computed by a window over the K surviving rows only — never
    * a global single-partition window over the vocabulary. Coverage is
    * an exact integer ratio. */
  def vocabFreq(docs: DataFrame, k: Int = 100): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // round 14: occurrence counts are Σ tf over the shared leaf
    // (identical to counting the token stream); lazy keeps the tower
    val counts =
      if (Dedup.eagerMaterialize(docs))
        docTermFreq(docs)._1.groupBy("word").agg(sum(col("tf")).as("c"))
      else TextFns.tokens(docs).groupBy("word").agg(count(lit(1)).as("c"))
    val total = counts.agg(sum(col("c")).as("total"))
    val top = counts.orderBy(col("c").desc, col("word").asc).limit(k)
    // the window ranks only the k collected rows — bounded by k
    val w = Window.orderBy(col("c").desc, col("word").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    top.crossJoin(broadcast(total))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .withColumn("cum_share",
        sum(col("c")).over(w).cast("double") / col("total"))
      .select("rnk", "word", "c", "cum_share")
      .orderBy("rnk")
  }

  /** q80 — document length histogram: docs per token-count bucket
    * (width 10) — the profiling pass run before choosing chunking and
    * packing parameters. Integer bucket arithmetic, two aggregations,
    * both shuffled on small keys. */
  def lengthHistogram(docs: DataFrame, width: Int = 10): DataFrame =
    TextFns.tokens(docs)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tok"))
      .select((expr(s"n_tok div $width") * width).as("bucket_lo"))
      .groupBy("bucket_lo")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("bucket_lo")

  /** q83 — percentile-band length filter: keep documents whose token
    * count lies inside the corpus's exact [`lo`, `hi`] continuous-
    * interpolation percentile band — the outlier-trim gate real
    * corpora apply before packing (too-short docs are noise,
    * too-long ones are concatenation artifacts). The band is a ONE-ROW
    * global aggregate, joined back as a broadcast nested-loop join of
    * exactly one row — bounded by construction, independent of corpus
    * size (the documented-bounded-BNLJ class from the plan audit).
    * Exact `percentile` ≡ DuckDB `quantile_cont` (q40/q51 precedent).
    */
  def lengthBandFilter(docs: DataFrame, lo: Double = 0.1,
      hi: Double = 0.9): DataFrame = {
    val counts = TextFns.tokens(docs)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tok"))
    val band = counts.agg(
      percentile(col("n_tok"), lit(lo)).as("p_lo"),
      percentile(col("n_tok"), lit(hi)).as("p_hi"))
    counts.join(broadcast(band))
      .where(col("n_tok") >= col("p_lo") && col("n_tok") <= col("p_hi"))
      .select("doc_id", "n_tok", "p_lo", "p_hi")
      .orderBy("doc_id")
  }

  /** q84 — word-association mining: top-`k` co-occurring word pairs by
    * pointwise mutual information, PMI = ln(c_ab·N / (df_a·df_b)) over
    * document-level co-occurrence. The candidate space is bounded by a
    * DOCUMENT-FREQUENCY BAND given as corpus fractions — the band
    * vocabulary (not the corpus) bounds the per-document pair fan-out,
    * which is what keeps the doc_id self-join linear-in-docs at scale
    * (Zipf: words above 1% df number in the thousands regardless of
    * corpus size). Ranking uses the EXACT rational c_ab·N/(df_a·df_b)
    * as an IEEE-deterministic double; `ln` ships rounded to 6 dp (the
    * q41 lesson — the one last-ulp risk between the engines' libms).
    * Plan: one distinct (doc, word) pass, df as a `groupBy(word)`
    * aggregate joined back on word (map-side combine collapses the hot
    * Zipf keys; the round-4 partition-only window put every posting of
    * a hot word in one unsplittable task), one shuffle self-join on
    * doc_id, one pair aggregation, a one-row corpus-count broadcast,
    * TakeOrdered(k). */
  def pmiPairs(docs: DataFrame, dfLoFrac: Double = 0.01,
      dfHiFrac: Double = 1.0, minPair: Long = 5L, k: Int = 50): DataFrame = {
    val nDocs = docs.agg(countDistinct(col("doc_id")).as("n_docs"))
    // round 14: the distinct (doc_id, word) relation rides the shared
    // tf leaf (one tokenize per corpus; both the df side and the pair
    // sides read the same leaf)
    val dw = docWordsShared(docs)
    val dfDim = dw.groupBy("word").agg(count(lit(1)).as("df"))
    val banded = dw.join(dfDim, Seq("word"))
      .crossJoin(broadcast(nDocs))
      .where(col("df") >= col("n_docs") * dfLoFrac &&
        col("df") <= col("n_docs") * dfHiFrac)
    val a = banded.select(col("doc_id"), col("word").as("wa"),
      col("df").as("df_a"), col("n_docs"))
    val b = banded.select(col("doc_id"), col("word").as("wb"),
      col("df").as("df_b"))
    a.join(b, Seq("doc_id"))
      .where(col("wa") < col("wb"))
      .groupBy("wa", "wb", "df_a", "df_b", "n_docs")
      .agg(count(lit(1)).as("c_ab"))
      .where(col("c_ab") >= minPair)
      .withColumn("ratio",
        (col("c_ab") * col("n_docs")).cast("double") / (col("df_a") * col("df_b")))
      .orderBy(col("ratio").desc, col("wa").asc, col("wb").asc)
      .limit(k)
      .withColumn("pmi", round(log(col("ratio")), 6))
      .select("wa", "wb", "c_ab", "df_a", "df_b", "pmi")
      .orderBy(col("pmi").desc, col("wa").asc, col("wb").asc)
  }

  /** q104 — per-language token statistics through the UNICODE
    * tokenizer (`TextFns.tokensUnicode`, `\p{L}`-class): token count,
    * vocabulary size, letter mass, plus `n_diverge` — how many tokens
    * read DIFFERENTLY under the Unicode and ASCII normalizers (0 on a
    * pure-ASCII corpus; the multilingual-readiness audit a 100 TB
    * corpus runs before choosing its tokenizer path). Same one-pass
    * one-shuffle shape as q20; all counts exact integers. The ASCII
    * path (reference parity, `main.c++:115-120`) stays the default
    * everywhere else. */
  def unicodeTokenStats(docs: DataFrame): DataFrame =
    TextFns.tokensUnicode(docs, Seq("lang"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_tokens"),
        countDistinct(col("word")).as("n_words"),
        sum(length(col("word")).cast("long")).as("n_letters"),
        sum((TextFns.normalize(col("tok")) =!= col("word")).cast("long"))
          .as("n_diverge"))
      .orderBy("lang")

  /** q66 — redaction: replace every match of `pattern` with `token`
    * (the PII-scrub step of a training pipeline — emails, phone
    * numbers, ids; the default pattern is chosen to actually fire on
    * the synthetic corpus). Pure per-row projections, no shuffle; the
    * same portable regex grammar subset as q53. */
  def redact(docs: DataFrame, pattern: String = "[a-z]+er",
      token: String = "<TOK>"): DataFrame =
    docs
      .select(col("doc_id"),
        size(regexp_extract_all(col("text"), lit(pattern), lit(0)))
          .cast("long").as("n_red"),
        regexp_replace(col("text"), pattern, token).as("red"))
      .select(col("doc_id"), col("n_red"),
        length(col("red")).cast("long").as("red_len"),
        substring(col("red"), 1, 40).as("red_prefix"))
      .orderBy("doc_id")

  /** q181 — distribution DRIFT: Population Stability Index of each
    * language's document-length distribution against the whole corpus,
    * over fixed 100-char buckets. The monitoring op of a training
    * pipeline: "did this slice's length profile move away from the
    * mix?" PSI = Σ_b (p_b − q_b)·ln(p_b/q_b), summed over the buckets
    * the slice actually occupies (p_b > 0; q_b > 0 follows because the
    * corpus contains the slice — no smoothing constant to pick).
    * Determinism across engines: each bucket's term is floor-quantized
    * to 1e-9 BEFORE the sum (the q88 pattern), so libm-vs-JVM ln ulps
    * cannot move the total. Scale: one pass to bucket counts (lang ×
    * 6 buckets), everything after is parameter-sized. */
  def psiDrift(docs: DataFrame, bucketWidth: Int = 100,
      maxBucket: Int = 5): DataFrame = {
    val cnt = docs
      .select(col("lang"),
        least(floor(col("n_chars") / lit(bucketWidth.toDouble)),
          lit(maxBucket.toLong)).as("bucket"))
      .groupBy("lang", "bucket")
      .agg(count(lit(1)).as("c"))
    val langTot = cnt.groupBy("lang").agg(sum(col("c")).as("t"))
    val overall = cnt.groupBy("bucket").agg(sum(col("c")).as("oc"))
    val grandTot = overall.agg(sum(col("oc")).as("ot"))
    cnt.join(langTot, "lang")
      .join(overall, "bucket")
      .crossJoin(broadcast(grandTot))
      .withColumn("p", col("c").cast("double") / col("t"))
      .withColumn("q", col("oc").cast("double") / col("ot"))
      .withColumn("term_q",
        floor((col("p") - col("q")) * log(col("p") / col("q")) * 1e9)
          .cast("long"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_buckets"),
        (sum(col("term_q")).cast("double") / 1e9).as("psi"))
      .orderBy("lang")
  }

  /** q187 — Shannon entropy of each language's word distribution (in
    * nats), with token and vocabulary counts: the diversity signal a
    * mixing pipeline reads next to q181/q182 (a slice whose entropy
    * collapses is template spam; one whose entropy spikes is noise).
    * Per-word `p·ln p` terms floor-quantized to 1e-9 before the sum —
    * the shared cross-engine ln convention. One tokenize to
    * vocabulary-sized counts; everything after is lang-keyed. */
  def vocabEntropy(docs: DataFrame): DataFrame = {
    val wc = TextFns.tokens(docs, Seq("lang"))
      .groupBy("lang", "word")
      .agg(count(lit(1)).as("c"))
    val tot = wc.groupBy("lang")
      .agg(sum(col("c")).as("t"), count(lit(1)).as("vocab"))
    wc.join(tot, "lang")
      .withColumn("term_q",
        floor((col("c").cast("double") / col("t"))
          * log(col("c").cast("double") / col("t")) * 1e9).cast("long"))
      .groupBy("lang")
      .agg(max(col("t")).as("n_tokens"), max(col("vocab")).as("vocab"),
        (-sum(col("term_q")).cast("double") / 1e9).as("entropy"))
      .orderBy("lang")
  }

  /** q182 — Jensen–Shannon divergence between every pair of languages'
    * WORD distributions (token frequencies with multiplicity): the
    * mixing-diagnostics op — "how far apart are these two slices'
    * vocabular profiles?", bounded [0, ln 2], symmetric, no smoothing
    * needed (a word absent from one side contributes p·ln 2 through
    * the mixture). Per-word terms are floor-quantized to 1e-9 before
    * the pair sum (cross-engine ln determinism, the q88 pattern).
    * Scale: one tokenize to (lang, word) counts — vocabulary-sized —
    * then a word-keyed self-join of the |langs| distributions;
    * nothing corpus-sized is ever broadcast or windowed. */
  /** q263 — ZIPF-FIT corpus-realism audit: the OLS slope of ln(freq)
    * on ln(rank) over each language's HEAD ranks — organic text fits
    * a power law with slope ≈ −1 (Zipf); templated/boilerplate or
    * synthetic-token floods read materially flatter or steeper, so
    * this sits beside q246's Benford digits and q254's weekday χ² as
    * the third "is this corpus organic?" tripwire, on the axis the
    * other two can't see (word-frequency structure).
    *
    * Exactness across engines: rank is a deterministic (count desc,
    * word asc) row_number over the VOCABULARY (never the corpus); both
    * lns are floor-quantized to micros (the shared quantized-ln
    * convention); all Σ terms are then exact BIGINTs, and the head
    * cap ENFORCES the bounds of the slope combinations — k ≤ 100
    * keeps n·Σxy and den under 2e18 for any corpus up to 9e18
    * tokens — which is why the fit is head-only (beyond being the
    * statistically standard choice: the tail deviates from Zipf in
    * every real corpus). The ONE combination the cap does NOT bound,
    * syyd = n·Σy² − (Σy)² (its y² terms square the ln-count micros,
    * overflowing int64 past a ~1.6e13-occurrence top word — Spark
    * would wrap silently where DuckDB throws), is computed in DOUBLE
    * on both engines; it only ever feeds the r² double expression.
    * The final slope/r² are ONE double expression each (int64 →
    * double conversion and each arithmetic op round identically on
    * both engines); the slope is emitted NEGATED so its floor
    * division stays in positive territory (the fdiv lesson).
    *
    * Shape: one tokenize → (lang, word) counts (map-side combinable),
    * a vocabulary-sized window, a per-lang 6-sum aggregation. Nothing
    * corpus-sized is sorted or broadcast. */
  def zipfAudit(docs: DataFrame, k: Int = 100): DataFrame = {
    val freq = TextFns.tokens(docs, Seq("lang"))
      .groupBy("lang", "word")
      .agg(count(lit(1)).as("c"))
    val ranked = freq
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("lang").orderBy(col("c").desc, col("word").asc)))
      .where(col("rnk") <= k)
      .select(col("lang"),
        floor(log(col("rnk").cast("double")) * 1e6).cast("long").as("x"),
        floor(log(col("c").cast("double")) * 1e6).cast("long").as("y"))
    val sums = ranked.groupBy("lang").agg(
      count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"))
    sums
      .withColumn("num", col("n") * col("sxy") - col("sx") * col("sy"))
      .withColumn("den", col("n") * col("sxx") - col("sx") * col("sx"))
      // syyd in DOUBLE: it only feeds the r² double expression, and
      // the int64 form n·Σy² − (Σy)² is the ONE combination the k≤100
      // head cap does NOT bound (y² terms square the ln-count micros:
      // a top word past ~1.6e13 occurrences pushes n·Σy² over
      // Long.Max, where Spark wraps silently and DuckDB throws — a
      // cross-engine divergence). Each int64→double conversion and
      // each double op rounds identically on both engines, so the
      // double combination stays bit-identical cross-engine while
      // num/den (bounded by the cap, see scaladoc) stay exact BIGINTs.
      .withColumn("syyd",
        col("n").cast("double") * col("syy").cast("double") -
          col("sy").cast("double") * col("sy").cast("double"))
      .select(col("lang"), col("n").as("n_ranks"),
        when(col("den") > 0L,
          floor((-col("num")).cast("double") * 1e6 /
            col("den").cast("double")).cast("long"))
          .as("neg_slope_micros"),
        when(col("den") > 0L && col("syyd") > 0.0,
          floor(col("num").cast("double") * col("num").cast("double") /
            (col("den").cast("double") * col("syyd")) * 1e6)
            .cast("long"))
          .as("r2_micros"))
      .orderBy("lang")
  }

  def jsDivergence(docs: DataFrame): DataFrame = {
    val wc = TextFns.tokens(docs, Seq("lang"))
      .groupBy("lang", "word")
      .agg(count(lit(1)).as("c"))
    val tot = wc.groupBy("lang").agg(sum(col("c")).as("t"))
    // densify on the (lang × vocab) grid so a word ABSENT from one
    // side still contributes its p·ln2 term to every pair it belongs
    // to (a word-keyed outer join alone would lose absent-side pairs);
    // langs is parameter-sized → broadcast, the grid stays
    // vocabulary-keyed
    val dist = wc.join(tot, "lang")
      .select(col("lang"), col("word"),
        (col("c").cast("double") / col("t")).as("p"))
    val grid = wc.select("word").distinct()
      .crossJoin(broadcast(tot.select("lang")))
      .join(dist, Seq("lang", "word"), "left")
      .na.fill(0.0, Seq("p"))
    val a = grid.select(col("lang").as("lang_a"), col("word"),
      col("p").as("pa"))
    val b = grid.select(col("lang").as("lang_b"), col("word"),
      col("p").as("pb"))
    a.join(b, Seq("word"))
      .where(col("lang_a") < col("lang_b"))
      .withColumn("term_q",
        floor((
          when(col("pa") > 0,
            col("pa") * log(lit(2.0) * col("pa") / (col("pa") + col("pb"))))
            .otherwise(lit(0.0)) +
          when(col("pb") > 0,
            col("pb") * log(lit(2.0) * col("pb") / (col("pa") + col("pb"))))
            .otherwise(lit(0.0))) * 0.5 * 1e9).cast("long"))
      .groupBy("lang_a", "lang_b")
      .agg((sum(col("term_q")).cast("double") / 1e9).as("jsd"))
      .orderBy("lang_a", "lang_b")
  }

  /** q189 — case-insensitive vocabulary merge via COLLATION (Spark 4):
    * tokens keep their original case (only the non-letter strip of R6
    * applied) and the aggregation groups on the token UNDER
    * `UTF8_LCASE` — collation-aware grouping INSIDE the hash aggregate,
    * not a lowercase projection bolted on front. That is the
    * engine-level difference: a collated group key lets every
    * downstream consumer (joins, distinct, sort) inherit
    * case-insensitivity from the TYPE, where `lower()` must be
    * re-applied at each site (and composes wrongly with locale-special
    * casings). Output key is `lower(...)` of the group — deterministic
    * where the collation group's representative value is not; variant
    * counts come from a binary-collation `countDistinct` inside each
    * ci-group. The oracle replays it as GROUP BY lower(word): for the
    * ASCII-only `[A-Za-z]+` token grammar (R6), UTF8_LCASE equality ≡
    * lowercase equality — the equivalence the spec pins, alongside the
    * grouped key actually carrying the collation. One tokenize, one
    * shuffle, vocabulary-sized output. */
  def collatedVocab(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        explode(split(col("text"), "\\s+")).as("tok"))
      .select(regexp_replace(col("tok"), "[^A-Za-z]", "").as("cw"))
      .where(length(col("cw")) > 0)
      .groupBy(collate(col("cw"), "UTF8_LCASE").as("ci"))
      .agg(countDistinct(col("cw")).as("n_variants"),
        count(lit(1)).as("occurrences"))
      .select(lower(col("ci")).as("word"), col("n_variants"),
        col("occurrences"))
      .orderBy("word")

  /** q191 — duplicate n-gram rate: for each document, the share of its
    * distinct character `n`-grams that occur in at least `minDf`
    * documents — the corpus-INTERNAL duplication diagnostic (the
    * cross-corpus twin of q60's contamination), the signal that says
    * "this document is mostly boilerplate the corpus already has"
    * before any MinHash pass runs. Shape: grams travel as `xxhash64`
    * longs — the q18/q22/q24 encoding discipline (64-bit: spurious
    * collisions ~n²/2⁶⁴; polyHash's mod-1e9+7 space would saturate at
    * corpus scale and inflate every dup count) — through a distinct,
    * a map-side-combinable gram-frequency aggregate, and ONE left
    * join back against the dup-gram set, whose gram key is
    * AQE-skew-splittable (a viral boilerplate gram is a hot KEY the
    * planner can split). A window formulation (count over
    * partition-by-gram) measures the same warm (~0.35 s at sf0.1;
    * an apparent 14× gap in first-run probes was cold-JIT noise) but
    * was REJECTED: a window partition cannot be split, so the
    * viral-gram case becomes one task buffering the whole key group —
    * exactly the straggler this diagnostic exists to detect. The ORACLE
    * counts the raw string grams; agreement of the two countings is
    * the injectivity EncodingSpec pins — which also means a future
    * fixture with a real 13-gram xxhash64 collision would show as a
    * RED VERIFY ROW with no engine bug (a harness false-negative,
    * odds ~n²/2⁶⁴). Deliberate: the alternative — twinning the hash
    * into the oracle — made the gate blind to hash saturation, the
    * round-7 review finding that forced this shape. Rate is an exact integer
    * ratio in one IEEE division. */
  def dupNgramRate(docs: DataFrame, n: Int = 13, minDf: Long = 2L,
      materializeDup: Boolean = false): DataFrame = {
    val grams = docs.where(length(col("text")) >= n)
      .select(col("doc_id"),
        explode(sequence(lit(1), length(col("text")) - (n - 1))).as("p"),
        col("text"))
      .select(col("doc_id"),
        xxhash64(expr(s"substring(text, p, $n)")).as("gram"))
      .distinct()
    val dupRaw = grams.groupBy("gram").agg(count(lit(1)).as("gdf"))
      .where(col("gdf") >= minDf)
      .select("gram").withColumn("hit", lit(1L))
    // Skew honesty (measured in SkewSpec): in the DEFAULT fused shape
    // the dup aggregate rides the SAME gram exchange the join uses, so
    // the join's dup child is an aggregate subtree, not a shuffle
    // read — and AQE's OptimizeSkewedJoin only matches shuffle-read
    // children on BOTH sides, so a pathologically hot boilerplate
    // gram rides ONE join task. `materializeDup = true` cuts the dup
    // side to a leaf — exactly the shape a production pipeline has
    // when the gram-df relation is read back from storage — which
    // makes both join children canonical ENSURE_REQUIREMENTS shuffles
    // and the hot partition AQE-splittable (SkewSpec asserts the
    // split fires and results are unchanged). Cost: one extra
    // exchange; the default keeps the fused single-reuse shape for
    // the common non-pathological corpus.
    val dup =
      if (materializeDup && Dedup.eagerMaterialize(docs))
        dupRaw.localCheckpoint(true)
      else dupRaw
    grams.join(dup, Seq("gram"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_grams"),
        sum(coalesce(col("hit"), lit(0L))).as("n_dup"))
      .withColumn("dup_rate",
        col("n_dup").cast("double") / col("n_grams"))
      .orderBy("doc_id")
  }

  /** q196 — the documents profile read THROUGH a text-format sidecar
    * (the operator under test is the format round-trip, Sidecar.xml for
    * the gated run): per (lang, source) counts plus three tripwires
    * that make silent text-format corruption impossible to pass —
    * `sum_len` (trimming/truncation shows up as a shorter corpus),
    * `text_sig` (a bounded sum of per-document content polyhashes: ANY
    * byte-level drift — entity escaping, encoding, newline handling —
    * moves it with overwhelming probability; each term is reduced mod
    * 1e6+3 so the BIGINT sum can never overflow either engine), and
    * the n_chars sum (numeric column round-trip). The oracle reads the
    * PARQUET original, so a green row gates writer escaping + reader
    * parsing end-to-end, exactly like q155/q156 for CSV/JSON-lines. */
  /** q222 — [[docProfile]]'s tripwire battery over the two-generation
    * EVOLVED layout (`Sidecar.evolvedDocuments`): gen0 files predate
    * the `lang` column, so their rows group under the `<gen0>` slot
    * via the NULL the merged schema assigns them — the oracle
    * reconstructs the slot from the generation rule (`doc_id % 2`)
    * over the ORIGINAL table, so a green row proves (a) both
    * generations' rows arrived, (b) the missing column surfaced as
    * NULL exactly on gen0 rows, and (c) text/numeric content survived
    * gen0's reversed physical column order byte-for-byte (the
    * polyhash signature + both sums). */
  def evolvedProfile(docs: DataFrame): DataFrame =
    docs.groupBy(coalesce(col("lang"), lit("<gen0>")).as("lang_slot"),
        col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        sum(length(col("text")).cast("long")).as("sum_len"),
        sum(TextFns.polyHash(col("text")) % 1000003L).as("text_sig"))
      .orderBy("lang_slot", "source")

  def docProfile(docs: DataFrame): DataFrame =
    docs.groupBy("lang", "source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        sum(length(col("text")).cast("long")).as("sum_len"),
        sum(TextFns.polyHash(col("text")) % 1000003L).as("text_sig"))
      .orderBy("lang", "source")

  /** q194 — WINNOWING document fingerprints (Schleimer et al., the
    * MOSS algorithm): hash every char `k`-gram, slide a window of `w`
    * consecutive hashes, keep each window's MINIMUM — the classic
    * guarantee that any match of length ≥ k+w−1 between two documents
    * shares at least one selected fingerprint, at ~2/(w+1) of the
    * full gram density. This is the fingerprint SELECTION step q30's
    * whole-document hash and q60/q191's exhaustive gram sets bracket:
    * position-robust like grams, storage-light like a digest. Engine
    * shape: gram hashes are one `polyHash` projection (the custom
    * codegen expression, q30's cross-engine fold), the window min is
    * a doc-partitioned ROWS window — bounded by DOCUMENT length, never
    * corpus-sized (the safe kind of window; one doc_id shuffle
    * total), and the output is per-doc summary stats over the
    * DISTINCT selected prints. Full windows only (`p ≤ len−k−w+2`),
    * so both engines see identical window frames; ties keep the same
    * min value, so tie-breaking never matters. The oracle replays the
    * identical window algebra in DuckDB. */
  def winnowFingerprints(docs: DataFrame, k: Int = 8, w: Int = 4): DataFrame =
    winnowPrintsShared(docs, k, w)
      .groupBy("doc_id")
      .agg(
        countDistinct(col("fp")).as("n_fp"),
        count(lit(1)).as("n_windows"),
        min(col("fp")).as("min_fp"),
        max(col("fp")).as("max_fp"))
      .orderBy("doc_id")

  /** Session memo of the selected-print relation — q194 (profile) and
    * q195 (pair inversion) consume the SAME winnowing artifact, the
    * way a pipeline stores its fingerprint table once and fans out;
    * the build (gram explode → window min → distinct) is the dominant
    * cost of both. */
  private def winnowPrintsShared(docs: DataFrame, k: Int, w: Int): DataFrame =
    Memos.get("prints", docs, (k, w))(
      graft.sources.ArtifactStore
        .loadOrBuild("winnow_prints", docs, s"$k-$w")(winnowPrints(docs, k, w))
        .localCheckpoint(true))(
      winnowPrints(docs, k, w))

  /** The per-window print relation `(doc_id, p, fp)` behind
    * [[winnowFingerprints]] — one row per FULL window, `fp` = the
    * window's min gram hash. Exposed so the guarantee ("any shared
    * substring of length ≥ k+w−1 shares a selected print") is testable
    * against the actual selection, not a summary. */
  private[graft] def winnowPrints(docs: DataFrame, k: Int, w: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grams = docs.where(length(col("text")) >= k + w - 1)
      .select(col("doc_id"), length(col("text")).as("tlen"),
        explode(sequence(lit(1), length(col("text")) - (k - 1))).as("p"),
        col("text"))
      .select(col("doc_id"), col("tlen"), col("p"),
        TextFns.polyHash(expr(s"substring(text, p, $k)")).as("h"))
    val win = Window.partitionBy("doc_id").orderBy("p")
      .rowsBetween(Window.currentRow, w - 1)
    grams
      .withColumn("fp", min(col("h")).over(win))
      .where(col("p") <= col("tlen") - (k + w - 2))
      .select("doc_id", "p", "fp")
  }



  /** q195 — winnowing CANDIDATE PAIRS: the inversion step that turns
    * q194's per-document fingerprints into the near-dup pair relation
    * MOSS actually reports — documents sharing ≥ `minShared` selected
    * prints, scored by containment over the capped print sets. This
    * completes the winnowing dedup path (select → invert → pair) the
    * way LSH banding completes MinHash (q22): the pair candidates come
    * from a FINGERPRINT-keyed equi-join, never an all-pairs stage.
    *
    * The `maxDf` cap is the standard MOSS move: a print occurring in
    * more than `maxDf` documents is boilerplate (license headers, nav
    * chrome) — joining through it would square a hot bucket for pairs
    * that share only furniture. Dropping it bounds every join bucket
    * at `maxDf` rows BY CONSTRUCTION; a surviving hot KEY is
    * AQE-splittable. `n_a`/`n_b` (containment denominators) count each
    * doc's prints over the SAME capped relation, so the score is
    * internally consistent: shared/min(|A|,|B|) of the prints that
    * were allowed to vote. Distinct (doc, fp) is built once and feeds
    * the df aggregate, both denominator counts, and the pair join from
    * one reused exchange. The oracle replays the identical algebra
    * (window-min selection included) in DuckDB. */
  /** Session memo of the df-CAPPED print relation (round-14
    * optimization): q195's pair inversion and q267's containment
    * recall both build the same capped (doc_id, fp) relation off the
    * memoized prints (distinct + df aggregate + cap join) per call —
    * one build per (corpus, k, w, maxDf) now. */
  private def winnowKeptShared(docs: DataFrame, k: Int, w: Int,
      maxDf: Long): DataFrame =
    Memos.get("winnowKept", docs, (k, w, maxDf))({
      val kp = winnowKeptPrints(
        winnowPrintsShared(docs, k, w).select("doc_id", "fp").distinct(),
        maxDf)
      try Memos.checkpointWide(kp) finally { kp.unpersist(); () }
    })(sys.error("winnowKeptShared is eager-mode only — lazy callers " +
      "keep the per-call tower"))

  /** Session memo of the winnow candidate-PAIR relation
    * (doc_a, doc_b, n_shared) — the fp-keyed self-join is the dominant
    * per-call cost left after the print/kept memos; q195 and q267
    * consume the same relation. */
  private def winnowPairsMemoized(docs: DataFrame, k: Int, w: Int,
      maxDf: Long, minShared: Long): DataFrame =
    Memos.get("winnowPairs", docs, (k, w, maxDf, minShared))(
      Memos.checkpointWide(
        winnowPairsOf(winnowKeptShared(docs, k, w, maxDf), minShared)))(
      sys.error("winnowPairsMemoized is eager-mode only — lazy callers " +
        "keep the per-call tower"))

  def winnowPairs(docs: DataFrame, k: Int = 8, w: Int = 4,
      maxDf: Long = 10L, minShared: Long = 2L): DataFrame =
    if (Dedup.eagerMaterialize(docs)) {
      // round 14: kept prints and candidate pairs are the shared
      // leaves (one build, two consumers with q267)
      val kept = winnowKeptShared(docs, k, w, maxDf)
      val sizes = kept.groupBy("doc_id").agg(count(lit(1)).as("n_prints"))
      val result = winnowPairsMemoized(docs, k, w, maxDf, minShared)
        .join(sizes.withColumnRenamed("doc_id", "doc_a")
          .withColumnRenamed("n_prints", "n_a"), Seq("doc_a"))
        .join(sizes.withColumnRenamed("doc_id", "doc_b")
          .withColumnRenamed("n_prints", "n_b"), Seq("doc_b"))
        .select(col("doc_a"), col("doc_b"), col("n_shared"),
          (col("n_shared").cast("double") /
            least(col("n_a"), col("n_b")).cast("double")).as("containment"))
        .orderBy("doc_a", "doc_b")
      Dedup.finishWith(result)
    } else winnowPairsTower(docs, k, w, maxDf, minShared)

  /** The original full tower — lazy (plan-audit) mode, and the
    * SharedTowerSpec equivalence baseline for the leaf path. */
  private def winnowPairsTower(docs: DataFrame, k: Int, w: Int,
      maxDf: Long, minShared: Long): DataFrame = {
    val prints = winnowPrintsShared(docs, k, w)
      .select("doc_id", "fp").distinct()
    // the df-cap stays a JOIN against the aggregated fp list — unlike
    // q191's window fold, measured SLOWER here as a window (3.5 vs
    // 2.9 s at sf0.1): the cap filter leaves only near-dup fps, a
    // relation small enough for AQE to broadcast into the semi side,
    // where the window must sort EVERY print by fp first. The capped
    // result is persisted because it feeds THREE consumers (sizes +
    // both pair-join sides) whose pruned subtrees diverge beyond
    // exchange reuse — the gram explode + window-min + distinct run
    // once (bench: 4.3 → 2.9 s at sf0.1); the persisted relation is
    // near-dup prints only, far smaller than the corpus
    val kept = winnowKeptPrints(prints, maxDf)
    val sizes = kept.groupBy("doc_id").agg(count(lit(1)).as("n_prints"))
    val pairs = winnowPairsOf(kept, minShared)
    val result = pairs
      .join(sizes.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("n_prints", "n_a"), Seq("doc_a"))
      .join(sizes.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("n_prints", "n_b"), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("n_shared"),
        (col("n_shared").cast("double") /
          least(col("n_a"), col("n_b")).cast("double")).as("containment"))
      .orderBy("doc_a", "doc_b")
    Dedup.finishWith(result, kept)
  }

  /** The df-capped print relation (see the q195 rationale above) —
    * persisted; the CALLER releases the handle. */
  private def winnowKeptPrints(prints: DataFrame, maxDf: Long): DataFrame =
    prints.join(
      prints.groupBy("fp").agg(count(lit(1)).as("df"))
        .where(col("df").between(2L, maxDf)).select("fp"),
      Seq("fp"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  private def winnowPairsOf(kept: DataFrame, minShared: Long): DataFrame =
    kept.as("a").join(kept.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)

  /** The winnow CANDIDATE PAIRS alone, for composition into other
    * decision relations (q267 promotes them into the containment
    * audit — winnowing is containment-recall by construction: any
    * shared substring of length ≥ k+w−1 shares a selected print, so a
    * tiny quote inside a huge document surfaces here where
    * Jaccard-tuned MinHash banding never collides). Returns the pair
    * relation plus the persisted handle the caller must release. */
  private[graft] def winnowCandidates(docs: DataFrame, k: Int = 8,
      w: Int = 4, maxDf: Long = 10L, minShared: Long = 2L)
      : (DataFrame, Seq[DataFrame]) =
    if (Dedup.eagerMaterialize(docs))
      // round 14: the memoized pair leaf (shared with q195) — memo
      // leaves are session-owned, so there is no handle to release
      (winnowPairsMemoized(docs, k, w, maxDf, minShared)
        .select("doc_a", "doc_b"), Nil)
    else {
      val kept = winnowKeptPrints(
        winnowPrintsShared(docs, k, w).select("doc_id", "fp").distinct(),
        maxDf)
      (winnowPairsOf(kept, minShared).select("doc_a", "doc_b"), Seq(kept))
    }

  /** q231 — Cohen's kappa between the trained classifier (q209's pred)
    * and its seed teacher (the stop-ratio heuristic), per split: raw
    * agreement overstates filter consensus when one class dominates
    * (two filters that both say "keep almost everything" agree ~always
    * by chance), so the chance-corrected kappa is the number a
    * pipeline reads before treating two quality gates as redundant.
    * Reporting BOTH splits exposes the generalization gap: train-split
    * agreement is what the model memorized, held-split agreement is
    * what transfers.
    *
    * All-integer: κ = (n·(tp+tn) − E) / (n² − E) with E = (tp+fp)(tp+fn)
    * + (fn+tn)(fp+tn); both sides are exact BIGINT counts from ONE
    * bounded confusion aggregation (the q213 matrix, grouped by
    * split), and the micros render floor-divides with the pmod rule —
    * κ goes NEGATIVE for worse-than-chance raters, where truncating
    * div and floor div disagree (the q214 bucket lesson). den = 0 ⟺
    * both raters constant and identical ⟺ po = 1: κ := 1e6 by
    * convention. Headroom: n²·1e6 overflows past n ≈ 3e6 per split;
    * beyond that the one-row final division moves to DECIMAL(38,0)
    * (the q49 observe convention). Scale: the scored relation is the
    * session-memoized q209 pass (no new corpus scan); everything after
    * is a 2-row aggregate. */
  def nbKappa(docs: DataFrame): DataFrame =
    kappaFrom(nbScoredLabeled(docs)
      .withColumn("split", when(col("doc_id") % 3 === 0, lit("held"))
        .otherwise(lit("train")))
      .groupBy("split")
      .agg(count(lit(1)).as("n"),
        sum((col("pred") && col("pos")).cast("long")).as("tp"),
        sum((col("pred") && !col("pos")).cast("long")).as("fp"),
        sum((!col("pred") && col("pos")).cast("long")).as("fn"),
        sum((!col("pred") && !col("pos")).cast("long")).as("tn")))
      .orderBy("split")

  /** The κ arithmetic alone, over a (split, n, tp, fp, fn, tn)
    * confusion relation — factored out so the spec can drive the
    * worse-than-chance (negative, floor-div) and den = 0 branches
    * with planted matrices the real corpus never produces. */
  private[graft] def kappaFrom(cm: DataFrame): DataFrame =
    cm.withColumn("po_micros", expr("(tp + tn) * 1000000 div n"))
      .withColumn("e2", expr(
        "(tp + fp) * (tp + fn) + (fn + tn) * (fp + tn)"))
      .withColumn("pe_micros", expr("e2 * 1000000 div (n * n)"))
      .withColumn("kappa_micros", expr(
        """CASE WHEN n * n - e2 = 0 THEN 1000000
          |ELSE ((n * (tp + tn) - e2) * 1000000
          |      - pmod((n * (tp + tn) - e2) * 1000000, n * n - e2))
          |     div (n * n - e2) END""".stripMargin))
      .select("split", "n", "tp", "fp", "fn", "tn",
        "po_micros", "pe_micros", "kappa_micros")

  /** q241 — per-document KEYWORDS by tf·idf: the top-k most
    * distinctive terms of every document — the doc-level companion to
    * q99's BM25 query ranking (there the query scores docs; here each
    * doc summarizes itself — the tagging/routing primitive a corpus
    * browser or topic-sampler runs).
    *
    * All-integer ranking: idf floor-quantizes ln(N/df) to micros (the
    * shared convention) and score_q = tf · idf_q is an exact BIGINT,
    * so the per-doc top-k cut (ties by word text) is engine-exact.
    * ONE tokenize pass feeds tf, df, and N (df and N are aggregates
    * OF THE (doc, word) relation, not second corpus scans — the
    * persisted-relation discipline of q88/q209); the per-doc rank is
    * a window PARTITIONED by doc_id, which Spark plans with
    * WindowGroupLimit (rank ≤ k prunes map-side, the q04 shape) —
    * no unpartitioned sort anywhere. */
  def docKeywords(docs: DataFrame, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // round 14: tf rides the shared (doc_id, word, tf) leaf (see
    // docTermFreq — one build, two consumers with q41)
    val (tf, handles) = docTermFreq(docs)
    val dfc = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val nd = tf.agg(countDistinct(col("doc_id")).as("n"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score_q").desc, col("word").asc)
    val result = tf.join(dfc, "word")
      .crossJoin(broadcast(nd))
      .withColumn("score_q", col("tf") * lnQ(col("n"), col("df")))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= k)
      .select("doc_id", "word", "tf", "score_q")
      .orderBy(col("doc_id"), col("score_q").desc, col("word"))
    Dedup.finishWith(result, handles: _*)
  }

  /** q242 — QUANTILE NORMALIZATION of a numeric column within groups:
    * every document's length mapped to its within-source CDF position
    * (micros) — the rank feature a mixture/curriculum pipeline uses
    * instead of raw lengths, comparable ACROSS sources whose scales
    * differ. The naive form is `cume_dist() OVER (PARTITION BY
    * source)` — a whole source in one task (the q148/q68 trap; a
    * web-scale source is most of the corpus). The scale path is the
    * bounded-histogram transform (the q129/q230/q235 discipline):
    * per-(source, value) counts → cumulative over the BOUNDED value
    * axis → the corpus joins the broadcast CDF relation row-locally.
    * cdf_micros = cum(≤v)·1e6 div n — exactly cume_dist in micros,
    * exact integers end to end. */
  def quantileNormalize(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hist = docs.groupBy(col("source"), col("n_chars").as("v"))
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy("source").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cdf = hist.withColumn("cum", sum(col("c")).over(w))
      .join(hist.groupBy("source").agg(sum(col("c")).as("n")), "source")
      .withColumn("cdf_micros", expr("cum * 1000000 div n"))
      .select(col("source").as("src"), col("v"), col("cdf_micros"))
    docs.select(col("doc_id"), col("source"), col("n_chars"))
      .join(broadcast(cdf),
        col("n_chars") === col("v") && col("source") === col("src"))
      .select(col("doc_id"), col("source"), col("n_chars"),
        col("cdf_micros"))
      .orderBy("doc_id")
  }

  /** q239 — COLLOCATIONS by pointwise mutual information: the top-k
    * bigrams whose co-occurrence beats the independence baseline —
    * the phrase-mining step (tokenizer vocab candidates, stop-phrase
    * lists) that q62's conditional-probability LM ranking cannot do
    * (P(w2|w1) rewards frequent w1s; PMI normalizes BOTH marginals).
    *
    * PMI = ln(c12·N / (c1·c2)) with every count an exact integer from
    * ONE bigram aggregation (marginals and N are SUMS OVER THE
    * BIGRAM-VOCABULARY relation, never a second corpus pass) and the
    * ln floor-quantized to micros (the q88/q209 convention) so the
    * ranking is engine-exact. The min-count gate (c12 ≥ 5) is applied
    * BEFORE the marginal joins — the classic PMI-loves-hapax fix and
    * also the cost bound: only gated bigrams join. Top-k cut breaks
    * ties by (w1, w2) — deterministic cross-engine. Headroom: c12·N
    * overflows BIGINT past N ≈ 3e9 bigrams; past that the ratio moves
    * to DECIMAL(38,0) (the q49 convention). Scale: one corpus
    * tokenize+fold, then everything is vocabulary-sized; the final
    * TakeOrdered is a per-partition heap. */
  def pmiCollocations(docs: DataFrame, minCount: Long = 5L,
      k: Int = 50): DataFrame = {
    // round 14: global bigram counts derive from the shared per-doc
    // multiplicity leaf (Σ_doc m ≡ count over the stream — the q62
    // law), sharing the tokenize+pair pass with q62/q88/q247/q265
    val (bb, bHandles) = docBigramCounts(docs)
    val b = bb.groupBy("w1", "w2")
      .agg(sum(col("m")).as("c12"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val c1 = b.groupBy("w1").agg(sum(col("c12")).as("c1"))
    val c2 = b.groupBy("w2").agg(sum(col("c12")).as("c2"))
    val n = b.agg(sum(col("c12")).as("nb"))
    val result = b.where(col("c12") >= minCount)
      .join(c1, "w1").join(c2, "w2")
      .crossJoin(broadcast(n))
      .withColumn("pmi_q", lnQ(col("c12") * col("nb"), col("c1") * col("c2")))
      .select("w1", "w2", "c12", "pmi_q")
      .orderBy(col("pmi_q").desc, col("w1"), col("w2"))
      .limit(k)
    Dedup.finishWith(result, b +: bHandles: _*)
  }

  /** q249 — VOCABULARY GROWTH curve (Heaps' law, empirically): for
    * doc-id-bucketed corpus prefixes, cumulative tokens vs cumulative
    * DISTINCT vocabulary — the saturation read a corpus builder
    * checks before paying for more data of the same source (a
    * flattening curve means new documents stop contributing words).
    *
    * Scale shape: a word's first appearance is an AGGREGATE —
    * min(bucket) per word over the one tokenize pass (vocabulary-
    * sized, map-side combinable) — so "new words in bucket b" needs no
    * per-prefix rescan; tokens-per-bucket rides the same pass. The
    * cumulative window runs over the BUCKET axis: `bucketWidth` is the
    * resolution knob (corpus/width rows — pick width ∝ corpus/1e4 in
    * production so the curve stays plot-sized; the default suits the
    * gate scale). All exact integers. */
  def vocabGrowth(docs: DataFrame, bucketWidth: Long = 50L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // ONE tokenize pass: the persisted (doc, bucket, word, m) fold is
    // strictly smaller than the token stream and serves all three
    // aggregates (first-seen buckets, token counts, doc counts) — the
    // q88/q209 persisted-multiplicity discipline
    // round 14: bucket is a pure function of doc_id, so the fold is a
    // PROJECTION of the shared (doc_id, word, tf) leaf — one tokenize
    // per corpus shared with q41/q241/the index family (lazy mode
    // keeps the per-call tower via docTermFreq's persisted branch)
    val (tf0, handles) = docTermFreq(docs)
    val tc = tf0
      .withColumn("bucket", expr(s"doc_id div $bucketWidth"))
      .select(col("doc_id"), col("bucket"), col("word"), col("tf").as("m"))
    val firstSeen = tc.groupBy("word").agg(min(col("bucket")).as("b"))
      .groupBy(col("b").as("bucket")).agg(count(lit(1)).as("new_words"))
    val perBucket = tc.groupBy("bucket")
      .agg(sum(col("m")).as("n_tokens"),
        countDistinct(col("doc_id")).as("n_docs"))
    val w = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val result = perBucket.join(firstSeen, Seq("bucket"), "left")
      .withColumn("nw", coalesce(col("new_words"), lit(0L)))
      .select(col("bucket"),
        sum(col("n_docs")).over(w).as("docs_cum"),
        sum(col("n_tokens")).over(w).as("tokens_cum"),
        sum(col("nw")).over(w).as("vocab_cum"))
      .orderBy("bucket")
    Dedup.finishWith(result, handles: _*)
  }

  /** q252 — VOCABULARY overlap between sources: Jaccard of the
    * distinct-word sets for every source pair — the set-level
    * companion to q182's distributional JSD (JSD says how different
    * the frequency profiles are; this says how much raw vocabulary is
    * even shared — a near-zero overlap means the pair can't
    * contaminate each other's n-gram statistics and a near-one means
    * one source adds no lexical coverage).
    *
    * Shape: one tokenize to the distinct (source, word) relation
    * (vocabulary × sources, map-side combinable); the pair stage is a
    * word-keyed self-join whose per-key fan-out is bounded by
    * |sources| (a word lives in at most s sides — config-bounded,
    * the q236 argument); set sizes join back broadcast;
    * jaccard_micros = common·1e6 div (n_a + n_b − common), exact
    * integers. Zero-filled over the unordered pair universe — and the
    * universe comes from ALL sources in `documents` (the q236/q251
    * total-universe contract), not just sources with ≥1 token: a
    * source whose docs all tokenize to empty shows up with nv = 0
    * instead of silently vanishing from the matrix, and an
    * empty–empty pair reads jaccard 0 (guarded division — ANSI mode
    * would otherwise throw on the 0/0). */
  def vocabOverlap(docs: DataFrame): DataFrame = {
    // three consumers (sizes + both self-join sides) read the distinct
    // (source, word) relation: persist it once (the q88 discipline) so
    // the tokenize pass runs once, not three times. Round 14: the
    // (doc, word) pairs come from the shared tf leaf with the source
    // attached by a doc-keyed join (source is functionally determined
    // by doc_id, so distinct(source, word) over the join ≡ distinct
    // over the source-carrying tokenize — same rows, one corpus
    // tokenize per session instead of one per call).
    val (tf0, handles) = docTermFreq(docs)
    val sw = tf0.select("doc_id", "word")
      .join(docs.select("doc_id", "source"), "doc_id")
      .select("source", "word").distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sizes = docs.select("source").distinct()
      .join(sw.groupBy("source").agg(count(lit(1)).as("nv")),
        Seq("source"), "left")
      .withColumn("nv", coalesce(col("nv"), lit(0L)))
    val observed = sw.as("a")
      .join(sw.as("b"), col("a.word") === col("b.word") &&
        col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("n_common"))
    val universe = sizes.select(col("source").as("src_a"), col("nv").as("n_a"))
      .join(sizes.select(col("source").as("src_b"), col("nv").as("n_b")),
        col("src_a") < col("src_b"))
    val result = universe.join(observed, Seq("src_a", "src_b"), "left")
      .withColumn("n_common", coalesce(col("n_common"), lit(0L)))
      .withColumn("jaccard_micros", expr(
        "CASE WHEN n_a + n_b - n_common = 0 THEN 0 " +
          "ELSE n_common * 1000000 div (n_a + n_b - n_common) END"))
      .select("src_a", "src_b", "n_a", "n_b", "n_common", "jaccard_micros")
      .orderBy("src_a", "src_b")
    Dedup.finishWith(result, sw +: handles: _*)
  }

  /** q250 — length INEQUALITY per source (Gini coefficient): how
    * unevenly a source's bytes are spread over its documents — a
    * mixture diagnostic next to q235's drift (equal means can hide
    * one source being a few giants plus noise while another is
    * uniform; weighting and packing behave differently on the two).
    *
    * Exact integers on the bounded-histogram path: with per-(source,
    * length) counts sorted by length, Σ rank·xᵢ over a block of c
    * equal values v is v·(c·cumBefore + c(c+1)/2) — so the Gini
    * numerator 2·S − (n+1)·T (S = Σ rank·x, T = Σx) is an exact
    * BIGINT from one window over the bounded value axis, and
    * gini_micros = num·1e6 div (n·T) is one floor division per
    * source. Headroom: S ≤ n²·v overflows past ~3e6 docs/source with
    * these lengths; the numerator bound is ENFORCED
    * (`Guards.headroomMul` names the fix — promote to DECIMAL(38,0) —
    * instead of wrapping silently; spec-driven with a planted
    * overflow). */
  def lengthGini(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hist = docs.groupBy(col("source"), col("n_chars").as("v"))
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy("source").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hist
      .withColumn("cum", sum(col("c")).over(w))
      .withColumn("s_block",
        col("v") * (col("c") * (col("cum") - col("c")) +
          expr("c * (c + 1) div 2")))
      .groupBy("source")
      .agg(sum(col("c")).as("n_docs"),
        sum(col("c") * col("v")).as("total_chars"),
        sum(col("s_block")).as("s_rank"))
      .withColumn("gini_num", graft.functions.Guards.headroomMul(
        lit(2L) * col("s_rank") - (col("n_docs") + lit(1L)) * col("total_chars"),
        lit(1000000L), "q250 gini numerator*1e6"))
      .withColumn("gini_micros",
        expr("gini_num div (n_docs * total_chars)"))
      .select("source", "n_docs", "total_chars", "gini_micros")
      .orderBy("source")
  }

  /** q247 — collocations by Dunning's log-likelihood ratio (G²): the
    * statistically calibrated companion to q239's PMI (PMI rewards
    * rarity — a twice-seen pair can top the list; G² weights the
    * evidence, so high-count genuine phrases rank above flukes; both
    * exist in real phrase miners for exactly this reason).
    *
    * G² = 2·Σ over the 2×2 contingency of k·ln(k·N / (row·col)),
    * zero-count cells contributing zero. Every count is an exact
    * BIGINT from the ONE bigram fold (the q239 relation: marginals
    * and N are sums over the bigram vocabulary); each of the four ln
    * terms is floor-quantized to micros BEFORE the k-weighted sum
    * (the q88/q209 convention), so g2_q is an exact integer and the
    * top-k cut (ties by pair text) is engine-exact. Headroom: k·N
    * overflows BIGINT past N ≈ 3e9 bigrams (the q239 note). */
  def g2Collocations(docs: DataFrame, minCount: Long = 5L,
      k: Int = 50): DataFrame = {
    // round 14: same shared bigram leaf as q239 (see pmiCollocations)
    val (bb, bHandles) = docBigramCounts(docs)
    val b = bb.groupBy("w1", "w2")
      .agg(sum(col("m")).as("c12"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val c1 = b.groupBy("w1").agg(sum(col("c12")).as("c1"))
    val c2 = b.groupBy("w2").agg(sum(col("c12")).as("c2"))
    val n = b.agg(sum(col("c12")).as("nb"))
    def term(kc: org.apache.spark.sql.Column,
        row: org.apache.spark.sql.Column,
        colm: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      when(kc > 0L, kc * lnQ(kc * col("nb"), row * colm)).otherwise(lit(0L))
    val result = b.where(col("c12") >= minCount)
      .join(c1, "w1").join(c2, "w2")
      .crossJoin(broadcast(n))
      .withColumn("g2_q", lit(2L) * (
        term(col("c12"), col("c1"), col("c2")) +
        term(col("c1") - col("c12"), col("c1"), col("nb") - col("c2")) +
        term(col("c2") - col("c12"), col("nb") - col("c1"), col("c2")) +
        term(col("nb") - col("c1") - col("c2") + col("c12"),
          col("nb") - col("c1"), col("nb") - col("c2"))))
      .select("w1", "w2", "c12", "g2_q")
      .orderBy(col("g2_q").desc, col("w1"), col("w2"))
      .limit(k)
    Dedup.finishWith(result, b +: bHandles: _*)
  }

  /** q240 — what dedup DOES to the data: distinct 13-gram diversity of
    * the full corpus vs the q58-kept canonicals, in one row — the
    * content-level companion to q233's byte accounting (bytes dropped
    * is what dedup costs; grams retained is what it preserves — a
    * near-dup pass should drop many documents while losing almost no
    * distinct content, and THIS relation is that claim as a number).
    *
    * Shape: cluster labels come from the session-memoized q58 scale
    * path (no second CC run); ONE gram pass (the q191 extraction —
    * grams ride as xxhash64, never materialized as strings) left-joins
    * the label relation and ONE aggregation computes both distinct
    * counts (`count(distinct gram)` and the kept-only conditional) —
    * Spark plans the two distincts as one Expand, still a single scan.
    * The oracle counts distinct RAW grams; the engine counts distinct
    * 64-bit gram hashes (the q191 convention — a collision would
    * merge two grams in a ~2⁻⁴⁵ event at this scale; at 100 TB the
    * same relation runs on the hash and the ratio absorbs it). */
  def dedupDiversity(docs: DataFrame, n: Int = 13,
      threshold: Double = 0.95): DataFrame = {
    val labels = Dedup.dedupClustersScale(docs, threshold)
    val kept = labels.where(col("is_canonical")).select("doc_id")
      .withColumn("is_kept", lit(true))
    val grams = docs.where(length(col("text")) >= n)
      .select(col("doc_id"),
        explode(sequence(lit(1), length(col("text")) - (n - 1))).as("p"),
        col("text"))
      .select(col("doc_id"),
        xxhash64(expr(s"substring(text, p, $n)")).as("gram"))
      .distinct()
    val counts = labels.agg(count(lit(1)).as("n_docs"),
      sum(col("is_canonical").cast("long")).as("n_kept"))
    grams.join(kept, Seq("doc_id"), "left")
      .agg(countDistinct(col("gram")).as("grams_all"),
        countDistinct(when(col("is_kept"), col("gram"))).as("grams_kept"))
      .crossJoin(broadcast(counts))
      .select(col("n_docs"), col("n_kept"), col("grams_all"),
        col("grams_kept"),
        expr("grams_kept * 1000000 div grams_all").as("retained_micros"))
  }

  /** q235 — distribution DRIFT between sources: the exact two-sample
    * Kolmogorov–Smirnov statistic on the `n_chars` length
    * distribution, for every source pair — the check a pipeline runs
    * before mixing a new source into a training set (or comparing a
    * crawl snapshot against the last one): a large D means the new
    * slice is length-shifted and the mixture weights need a second
    * look.
    *
    * Exact and bounded, no corpus sort: per-(source, value) counts
    * collapse the corpus into a BOUNDED histogram (value range ×
    * sources — n_chars is a bounded document property, the q129/q230
    * bin discipline); the tiny source-pair relation (s·(s−1)/2 rows)
    * broadcast-crosses the histogram so each pair sees the UNION of
    * both sides' values with per-side counts; one cumulative window
    * PARTITIONED BY pair over the bounded value axis yields both
    * empirical CDFs, and D = max |cdf_a − cdf_b| is computed in
    * EXACT INTEGERS as max |cum_a·n_b − cum_b·n_a| (common
    * denominator n_a·n_b — no float CDF ever exists, so the oracle
    * hash-matches bit for bit). Headroom: d_num·1e6 overflows past
    * n_a·n_b ≈ 9e12; the bound is ENFORCED (`Guards.headroomMul`,
    * the named-error convention) with DECIMAL(38,0) as the cited
    * fix. */
  def ksDrift(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hist = docs.groupBy(col("source"), col("n_chars").as("v"))
      .agg(count(lit(1)).as("c"))
    val tot = hist.groupBy("source").agg(sum(col("c")).as("n"))
    val pairs = tot.select(col("source").as("src_a"), col("n").as("n_a"))
      .join(tot.select(col("source").as("src_b"), col("n").as("n_b")),
        col("src_a") < col("src_b"))
    val sided = hist.join(broadcast(pairs),
        col("source") === col("src_a") || col("source") === col("src_b"))
      .groupBy("src_a", "src_b", "n_a", "n_b", "v")
      .agg(sum(when(col("source") === col("src_a"), col("c"))
          .otherwise(0L)).as("ca"),
        sum(when(col("source") === col("src_b"), col("c"))
          .otherwise(0L)).as("cb"))
    val w = Window.partitionBy("src_a", "src_b").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sided
      .withColumn("cum_a", sum(col("ca")).over(w))
      .withColumn("cum_b", sum(col("cb")).over(w))
      .withColumn("d", abs(col("cum_a") * col("n_b") -
        col("cum_b") * col("n_a")))
      .groupBy("src_a", "src_b", "n_a", "n_b")
      .agg(max(col("d")).as("d_num"))
      .withColumn("d_num6", graft.functions.Guards.headroomMul(
        col("d_num"), lit(1000000L), "q235 ks d_num*1e6"))
      .withColumn("d_micros", expr("d_num6 div (n_a * n_b)"))
      .drop("d_num6")
      .orderBy("src_a", "src_b")
  }
}
