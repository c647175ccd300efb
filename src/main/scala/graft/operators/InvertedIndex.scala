package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFns

/** The reference's core capability — inverted-index construction and the
  * query algebra over it — re-expressed as declarative Spark plans.
  *
  * Reference lifecycle (`/root/reference/main.c++`): map = tokenize +
  * normalize + per-file dedup (`main.c++:100-144`), barrier
  * (`main.c++:152`), reduce = 26-way letter partition + group-by-word
  * merge (`main.c++:180-205`) + per-bucket sort (`main.c++:236`) +
  * formatted text sink (`main.c++:231-266`). Here the barrier is the
  * shuffle of a `groupBy`, the letter partition is a derived column, the
  * merge is `collect_set`, and the sorts are `sort_array`/`orderBy` —
  * partial aggregation, spill, and skew handling (AQE) come free, which
  * is what lets the same plan run on 100 TB where the reference's
  * all-in-RAM vectors (`main.c++:300-302`) cannot.
  */
object InvertedIndex {

  /** q01 — raw token stream (R5+R6). */
  def tokens(docs: DataFrame): DataFrame =
    TextFns.tokens(docs)
      .select("doc_id", "word")
      .orderBy("doc_id", "word")

  /** Unordered postings `(word, postings, df)` — shared sub-plan for
    * q02..q06 and every index build. `collect_set` is the reduce merge
    * (R11, `main.c++:190-203`) and the per-doc dedup (R7) at once;
    * `sort_array` replaces the bubble sort (R14, `main.c++:240-252`).
    * When the corpus's shared (doc_id, word) tf leaf already exists it
    * is folded (no re-tokenize); otherwise the tokens aggregate in ONE
    * pass and no leaf is built — a one-shot ingest (a base build, a
    * delta, a MERGE source, a streaming epoch) runs the aggregation and
    * its consumer, and pins nothing. `df = size(postings)` equals the
    * leaf path's distinct-doc count. */
  def postingsUnordered(docs: DataFrame): DataFrame =
    TextAnalysis.docWordsLeafPeek(docs) match {
      case Some(leaf) => leaf.groupBy("word").agg(
        sort_array(collect_set(col("doc_id"))).as("postings"),
        count(lit(1)).as("df"))
      case None => TextFns.tokens(docs).groupBy("word")
        .agg(sort_array(collect_set(col("doc_id"))).as("postings"))
        .withColumn("df", size(col("postings")).cast("long"))
    }

  /** [[postingsUnordered]] over a doc_id-sliced view of the corpus,
    * served from the FULL corpus's shared (doc_id, word) leaf: a
    * doc_id predicate commutes with tokenize + per-doc dedup (doc_id
    * rides every token row untouched), so slice-then-tokenize ≡
    * leaf-then-filter row for row. The store/demo builders ingest
    * quarters/halves of ONE corpus — with the leaf each ingest is a
    * filter + groupBy instead of a fresh corpus-slice tokenize
    * (round 15: q261's four-quarter history alone ran seven of them).
    * Lazy (plan-audit) mode folds the same predicate over the
    * tokenize→distinct tower, where Catalyst pushes it into the scan —
    * the pre-round-15 plan exactly. */
  def postingsUnorderedSlice(docs: DataFrame,
      pred: org.apache.spark.sql.Column): DataFrame =
    TextAnalysis.docWordsShared(docs)
      .where(pred)
      .groupBy("word")
      .agg(
        sort_array(collect_set(col("doc_id"))).as("postings"),
        count(lit(1)).as("df"))

  /** q02 — the reference's core output: word → ascending posting list,
    * ordered by document frequency DESC, word ASC (R13,
    * `main.c++:37-44,236`). Library API: postings stays a typed
    * ARRAY<BIGINT> (the shape downstream set-algebra wants). */
  def postings(docs: DataFrame): DataFrame =
    postingsUnordered(docs)
      .select("word", "df", "postings")
      .orderBy(col("df").desc, col("word").asc)

  /** `postings` ARRAY<BIGINT> → the space-joined STRING the reference
    * prints between brackets (`main.c++:257-263`). The driver's pandas
    * comparator cannot sort/hash raw ARRAY columns (round-1 q02/q37
    * err: `unhashable type: numpy.ndarray`), so the oracle-facing
    * variants ship this string; q03's green `line` column proves the
    * pattern. */
  private def postingsAsString(ordered: DataFrame): DataFrame =
    ordered.withColumn("postings",
      array_join(col("postings").cast("array<string>"), " "))

  /** q02 driver shape — `postings` as a space-joined string. */
  def postingsStr(docs: DataFrame): DataFrame =
    postingsAsString(postings(docs))

  /** q03 — the index in the reference's output grammar
    * `word:[id1 id2 … idN]` (R16, `main.c++:254-266`), partitioned by
    * first letter (R10, `main.c++:184-186`). */
  def indexFormat(docs: DataFrame): DataFrame =
    postingsUnordered(docs)
      .withColumn("letter", substring(col("word"), 1, 1))
      .withColumn("line",
        concat(col("word"), lit(":["),
          array_join(col("postings").cast("array<string>"), " "), lit("]")))
      .select("letter", "word", "df", "line")
      .orderBy(col("letter").asc, col("df").desc, col("word").asc)

  /** q04 — top-k words per letter by document frequency: the
    * reference's per-bucket sort (R13) re-expressed as a window rank. */
  def topkPerLetter(docs: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("letter"))
      .orderBy(col("df").desc, col("word").asc)
    // dense_rank over df ALONE so equal-df words share a dense rank
    // (deterministic: the value depends only on df). The tie-broken
    // window would make rank ≡ dense_rank — words are unique per group.
    val wd = Window.partitionBy(col("letter")).orderBy(col("df").desc)
    // dense_rank comes AFTER the rank filter — provably equivalent
    // (every row with higher df has strictly smaller rank, so it
    // survives whenever the current row does, and equal-df rows never
    // affect dense_rank) and it unlocks two plan wins: the filter sits
    // directly above the rank window, so Catalyst inserts
    // WindowGroupLimit (each group feeds a k-row heap into the sort
    // instead of sorting the whole group — the survival move for a
    // 100 TB letter group), and the second window then runs over ≤ k
    // rows per group instead of the full vocabulary. Same letter
    // partitioning, so still one exchange. Spec pins the
    // WindowGroupLimit node; the q04 oracle pins the equivalence.
    postingsUnordered(docs)
      .withColumn("letter", substring(col("word"), 1, 1))
      .withColumn("rnk", rank().over(w).cast("long"))
      .where(col("rnk") <= k)
      .withColumn("drnk", dense_rank().over(wd).cast("long"))
      .select("letter", "word", "df", "rnk", "drnk")
      .orderBy(col("letter").asc, col("rnk").asc, col("word").asc)
  }

  /** q05 — doc-set AND: documents containing both words. The idiomatic
    * Spark form of posting-list intersection is a left-semi join, which
    * Catalyst broadcasts when one side is small. */
  def docSetAnd(docs: DataFrame, w1: String, w2: String): DataFrame = {
    val dw = TextAnalysis.docWordsShared(docs)
    dw.where(col("word") === w1).select("doc_id")
      .join(dw.where(col("word") === w2).select("doc_id"), Seq("doc_id"), "left_semi")
      .orderBy("doc_id")
  }

  /** q06 — doc-set EXCEPT: documents containing w1 but not w2
    * (left-anti join — posting-list difference). */
  def docSetExcept(docs: DataFrame, w1: String, w2: String): DataFrame = {
    val dw = TextAnalysis.docWordsShared(docs)
    dw.where(col("word") === w1).select("doc_id")
      .join(dw.where(col("word") === w2).select("doc_id"), Seq("doc_id"), "left_anti")
      .orderBy("doc_id")
  }

  /** q37 — q02's postings computed through the typed-Aggregator path
    * (graft.functions.PostingsAggregator) instead of
    * `collect_set`+`sort_array`: same output, proving the UDAF surface.
    * The expression form remains the production path (codegen'd). */
  def postingsTyped(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    TextAnalysis.docWordsShared(docs)
      .select(col("word"), col("doc_id"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .agg(new graft.functions.PostingsAggregator().toColumn.name("postings"))
      .toDF("word", "postings")
      .select(col("word"), size(col("postings")).cast("long").as("df"), col("postings"))
      .orderBy(col("df").desc, col("word").asc)
  }

  /** q37 driver shape — typed-Aggregator postings as a space-joined
    * string (same comparator constraint as `postingsStr`). */
  def postingsTypedStr(docs: DataFrame): DataFrame =
    postingsAsString(postingsTyped(docs))

  /** The reference's R16 sink verbatim: one text file per first letter,
    * rows `word:[id1 id2 … idN]` sorted df DESC, word ASC within each
    * letter (`main.c++:231-266`). `partitionBy` gives the 26-way layout;
    * `sortWithinPartitions` after a 1-partition-per-letter repartition
    * reproduces the per-bucket ordering. Verified by golden-file
    * ScalaTest (not DuckDB — the grammar is not a table).
    */
  def writeIndex(docs: DataFrame, outDir: String): Unit = {
    indexFormat(docs)
      .repartition(col("letter"))
      .sortWithinPartitions(col("letter"), col("df").desc, col("word").asc)
      .select("letter", "line")
      .write.mode("overwrite")
      .partitionBy("letter")
      .text(outDir)
    // R16 parity: the reference opens all 26 ofstreams up front
    // (`main.c++:231-233`), so letters with no words still produce an
    // empty file; `partitionBy` only materializes non-empty partitions.
    // Touch the missing ones — 26 driver-side FS ops, scale-free.
    import org.apache.hadoop.fs.Path
    val base = new Path(outDir)
    val fs = base.getFileSystem(docs.sparkSession.sparkContext.hadoopConfiguration)
    ('a' to 'z').foreach { l =>
      val dir = new Path(base, s"letter=$l")
      if (!fs.exists(dir)) {
        fs.mkdirs(dir)
        fs.create(new Path(dir, "part-00000-empty.txt")).close()
      }
    }
    // this sink sorts every file df↓ word↑ by construction — stamp the
    // marker that licenses the DSv2 reader's top-N pushdown
    fs.create(new Path(base, graft.sources.IndexTextSource.SortedMarker),
      true).close()
  }

  // ---- Positional index family (q95–q97) -------------------------------
  //
  // The reference's index is doc-level: word → [doc_id] (`main.c++:13-16`
  // — `word_locations` holds FILE numbers, not offsets). The classic IR
  // extension is the POSITIONAL index (word → doc → token offsets),
  // which unlocks the two queries a doc-level index cannot answer:
  // exact-phrase match and within-k proximity. Same build shape as
  // q02 — tokenize, group, sort — with the offset carried through.

  /** q95 — positional posting lists for a term set: `word → doc_id →
    * ascending token offsets` (the "fetch posting lists" primitive a
    * phrase/proximity engine serves from storage). One tokenize pass
    * with the term filter applied BEFORE the shuffle (the isin
    * predicate sits on the exploded stream, so only matching tokens
    * are shuffled), one `groupBy(word, doc_id)` aggregation; positions
    * ship as the space-joined string (driver-comparator scalar rule,
    * q02/q37 pattern). Scale: output is terms × containing-docs rows —
    * proportional to the posting lists fetched, never the corpus. */
  /** THE positional-posting-list aggregation — the one definition the
    * q95 relation and the stored artifact (`IndexStore.savePositional`)
    * share, so the persisted index can never drift from the
    * oracle-gated shape (the `minhashSigCols` rule). `terms` empty =
    * whole vocabulary; non-empty = filter applied BEFORE the shuffle. */
  private[graft] def positionalLists(docs: DataFrame,
      terms: Seq[String] = Nil): DataFrame = {
    val pts = TextFns.posTokens(docs)
    val filtered = if (terms.nonEmpty) pts.where(col("word").isin(terms: _*)) else pts
    filtered
      .groupBy("word", "doc_id")
      .agg(sort_array(collect_list(col("pos"))).as("positions"))
  }

  def positionalPostings(docs: DataFrame, terms: Seq[String]): DataFrame =
    positionalLists(docs, terms)
      .select(col("word"), col("doc_id"),
        size(col("positions")).cast("long").as("n_pos"),
        array_join(col("positions").cast("array<string>"), " ").as("positions"))
      .orderBy("word", "doc_id")

  /** q96 — exact-phrase search: documents containing `phrase` as
    * CONSECUTIVE raw-split tokens, with the per-doc match count.
    *
    * Single-pass form: one tokenize scan, one window shuffle keyed on
    * doc_id — `lead(word, i)` + `lead(pos, i) === pos + i` checks each
    * phrase slot (the pos check makes adjacency a property of the raw
    * token sequence, so a stripped-to-empty token between two phrase
    * words breaks the match, identically in the oracle's join form).
    * Against a STORED positional index (q95's relation) the same query
    * is `len(phrase)-1` equi-joins on `(doc_id, pos)` — the oracle SQL
    * is written in that join form, so the driver's hash-match doubles
    * as a window-form ≡ join-form equivalence check. */
  def phraseSearch(docs: DataFrame, phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phrase must have at least one word")
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val matched = phrase.zipWithIndex.map { case (word, i) =>
      if (i == 0) col("word") === word
      else lead(col("word"), i).over(w) === word &&
        lead(col("pos"), i).over(w) === col("pos") + i
    }.reduce(_ && _)
    TextFns.posTokens(docs)
      .withColumn("m", matched)
      .where(col("m"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_matches"))
      .orderBy("doc_id")
  }

  /** q98 — INCREMENTAL index maintenance: merge the stored postings
    * relation ("yesterday's" index, `doc_id < cap`) with the postings
    * of a new batch (`doc_id >= cap`) without re-tokenizing the stored
    * corpus — the reference's own artifact gets the build → store →
    * incremental-update story the sketch families have (q89/q90 for
    * MinHash, q23/q94 for SimHash).
    *
    * Merge = full-outer join on `word`; df adds; posting lists
    * CONCATENATE — the cap split makes the sides disjoint with every
    * old id below every new id, so old++new is already ascending (no
    * re-sort of the stored lists). In production the old side is
    * `IndexStore.load`; here it derives from the same corpus so the
    * oracle — which rebuilds the index over the WHOLE corpus from
    * scratch — proves merge ≡ rebuild by hash equality. Scale: the
    * stored side is read, never re-derived; the join shuffles on
    * `word` (vocabulary-sized, the index's own key). */
  def indexMerge(docs: DataFrame, cap: Long): DataFrame = {
    val stored = postingsUnorderedSlice(docs, col("doc_id") < cap)
      .select(col("word"), col("df").as("df_old"), col("postings").as("p_old"))
    val batch = postingsUnorderedSlice(docs, col("doc_id") >= cap)
      .select(col("word"), col("df").as("df_new"), col("postings").as("p_new"))
    val emptyPost = typedLit(Array.empty[Long])
    stored.join(batch, Seq("word"), "full_outer")
      .select(col("word"),
        (coalesce(col("df_old"), lit(0L)) + coalesce(col("df_new"), lit(0L))).as("df"),
        concat(coalesce(col("p_old"), emptyPost),
          coalesce(col("p_new"), emptyPost)).as("postings"))
      .withColumn("postings",
        array_join(col("postings").cast("array<string>"), " "))
      .orderBy(col("df").desc, col("word").asc)
  }

  /** q105 — INCREMENTAL maintenance for the POSITIONAL index: q98's
    * merge story for the q95 relation, closing the last rebuild-only
    * surface (doc-level postings merge: q98; MinHash probe: q90;
    * SimHash probe: q94). The stored side (`doc_id < cap`) and the new
    * batch (`doc_id >= cap`) each build their positional lists
    * independently — the stored side in production is
    * `IndexStore.loadPositional`, never re-derived — and merge by
    * FULL-OUTER join on `(word, doc_id)`. Positions are per-document
    * token offsets, so the cap split makes the two sides DISJOINT on
    * the join key and the merge is a coalesce; the concat form is kept
    * (with a defensive sort) so the same operator also serves an
    * append-to-doc ingest where a key genuinely lands on both sides.
    * The oracle rebuilds the q95 relation from scratch over the whole
    * corpus ⟹ the driver hash-match proves merge ≡ rebuild. Scale:
    * shuffles on (word, doc_id) — the relation's own key, output ∝
    * posting lists fetched; the stored corpus is never re-tokenized. */
  def positionalMerge(docs: DataFrame, cap: Long, terms: Seq[String]): DataFrame = {
    val stored = positionalLists(docs.where(col("doc_id") < cap), terms)
      .select(col("word"), col("doc_id"), col("positions").as("p_old"))
    val batch = positionalLists(docs.where(col("doc_id") >= cap), terms)
      .select(col("word"), col("doc_id"), col("positions").as("p_new"))
    mergePositionalSides(stored, batch)
      .select(col("word"), col("doc_id"),
        size(col("positions")).cast("long").as("n_pos"),
        array_join(col("positions").cast("array<string>"), " ").as("positions"))
      .orderBy("word", "doc_id")
  }

  /** The one merge definition `positionalMerge` (oracle-gated) and
    * `IndexStore.mergePositional` (stored-artifact path) share — the
    * persisted-index merge can never drift from the proven shape. */
  private[graft] def mergePositionalSides(stored: DataFrame,
      batch: DataFrame): DataFrame = {
    val emptyPos = typedLit(Array.empty[Long])
    stored.join(batch, Seq("word", "doc_id"), "full_outer")
      .select(col("word"), col("doc_id"),
        sort_array(concat(coalesce(col("p_old"), emptyPos),
          coalesce(col("p_new"), emptyPos))).as("positions"))
  }

  /** q99 — BM25 ranked retrieval: the scoring query an inverted index
    * exists to serve. For the multi-word query `terms`, every document
    * is scored Σ_t idf_t · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))
    * with idf_t = ln((N − df + 0.5)/(df + 0.5) + 1) (the Robertson/
    * Sparck-Jones form, always positive), and the global top-`topK`
    * is returned.
    *
    * Everything that does not depend on the query is one session tower
    * per corpus ([[Bm25Corpus]]): the `(doc_id, word, tf, dl, df)`
    * relation, derived from the shared `tf` tower and held as one row
    * per document, plus the scalars N and avgdl. A query is then one
    * pass over that tower — pick each query term's `(tf, df)` out of
    * the row, score it, sum the terms of the row — and a TakeOrdered:
    * no exchange, and every distinct term set shares one tower, so the
    * memory held does not grow with the number of queries.
    * Cross-engine exactness: each TERM's score is floor-quantized to
    * integer millionths BEFORE the per-doc sum (the q88 rule — integer
    * sums are order-independent where float sums are not), tf/dl/df
    * and N are integers and avgdl an exact double sum of integers, and
    * the final ordering tie-breaks on doc_id. Lazy (plan-audit) mode
    * keeps the whole per-call plan ([[bm25DocScores]]). */
  def bm25Search(docs: DataFrame, rawTerms: Seq[String], topK: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    // a repeated term must not count twice: BM25 scores a term SET, as
    // the oracle's `WHERE word IN (...) GROUP BY word` does
    val terms = rawTerms.distinct
    val scores =
      if (!Dedup.eagerMaterialize(docs)) bm25DocScores(docs, terms, k1, b)
      else {
        val c = graft.tools.Memos.get("bm25", docs, ())(bm25Corpus(docs))(
          sys.error("bm25Search lazy path keeps the per-call plan"))
        if (terms.isEmpty) c.perDoc.where(lit(false)).select(col("doc_id"), lit(0L).as("score_q"))
        else {
          val hits = terms.map(t => col("terms").getItem(t))
          c.perDoc.where(hits.map(_.isNotNull).reduce(_ || _))
            .select(col("doc_id"), hits.map(h => coalesce(
              bm25TermScoreQ(h.getField("tf"), col("dl"), h.getField("df"),
                lit(c.nDocs), lit(c.avgdl), k1, b), lit(0L))).reduce(_ + _)
              .as("score_q"))
        }
      }
    scores.orderBy(col("score_q").desc, col("doc_id").asc).limit(topK)
  }

  /** The query-independent BM25 tower of one corpus: `perDoc` is one
    * row per tokenized document, `(doc_id, dl, terms: word → (tf,
    * df))`; `nDocs` counts every document and `avgdl` averages `dl`
    * over the tokenized ones only (as the oracle's `dl` CTE does). */
  private case class Bm25Corpus(perDoc: DataFrame, nDocs: Long, avgdl: Double)

  private def bm25Corpus(docs: DataFrame): Bm25Corpus = {
    val tf = TextAnalysis.docTermFreq(docs)._1
    val df = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val perDoc = graft.tools.Memos.checkpointWide(tf.join(df, "word")
      .groupBy("doc_id")
      .agg(sum(col("tf")).as("dl"), map_from_entries(collect_list(struct(
        col("word"), struct(col("tf"), col("df"))))).as("terms")))
    // a long sum of integers, divided once: the same double as a
    // double-accumulated avg while the token count stays below 2^53
    val s = perDoc.agg(sum(col("dl")), count(lit(1))).head()
    val avgdl = if (s.getLong(1) == 0L) 0.0 else s.getLong(0).toDouble / s.getLong(1)
    Bm25Corpus(perDoc, docs.count(), avgdl)
  }

  /** One term's floor-quantized score — the one definition the tower
    * path and the per-call plan share. */
  private def bm25TermScoreQ(tf: Column, dl: Column, df: Column, nDocs: Column,
      avgdl: Column, k1: Double, b: Double): Column = {
    val idf = log((nDocs - df + 0.5) / (df + 0.5) + 1.0)
    // association shape mirrors the oracle SQL exactly; the two
    // factor swaps ((dl·b) for (b·dl), (…)·k1 for k1·(…)) are
    // bit-exact under IEEE multiply commutativity
    floor(idf * (tf * (k1 + 1.0)) / (tf + (lit(1.0 - b) + dl * b / avgdl) * k1) * 1e6)
      .cast("long")
  }

  /** The per-call scoring plan of lazy (plan-audit) mode — the same
    * algebra as the tower path, over the query's terms only. */
  private def bm25DocScores(docs: DataFrame, terms: Seq[String],
      k1: Double, b: Double): DataFrame = {
    // ONE tokenize pass and ONE doc_id shuffle produce BOTH the doc
    // length and the per-term frequencies (dl as count(*), each term's
    // tf as a conditional sum in the same aggregation — the q22
    // fused-relation idea); the (doc_id, word, tf) shape is then
    // re-derived by exploding the bounded term columns, and df/avgdl
    // are aggregates OVER THE AGGREGATED frame, whose doc_id exchange
    // Catalyst reuses.
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      sum(when(col("word") === t, 1L).otherwise(0L)).as(s"tf_$i")
    }
    val perDoc = TextFns.tokens(docs).groupBy("doc_id")
      .agg(count(lit(1)).as("dl"), tfCols: _*)
    val tf = perDoc.select(col("doc_id"), col("dl"),
      explode(array(terms.zipWithIndex.map { case (t, i) =>
        struct(lit(t).as("word"), col(s"tf_$i").as("tf"))
      }: _*)).as("e"))
      .select(col("doc_id"), col("dl"), col("e.word").as("word"), col("e.tf").as("tf"))
      .where(col("tf") > 0)
    val df = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val avgdl = perDoc.agg(avg(col("dl")).as("avgdl"))
    tf.join(df, "word")
      .crossJoin(broadcast(nDocs))
      .crossJoin(broadcast(avgdl))
      .select(col("doc_id"), bm25TermScoreQ(col("tf"), col("dl"), col("df"),
        col("n_docs"), col("avgdl"), k1, b).as("ts_q"))
      .groupBy("doc_id")
      .agg(sum(col("ts_q")).as("score_q"))
  }

  /** q97 — proximity search: documents where `w1` and `w2` occur
    * within `window` raw-split positions, with the per-doc pair count
    * and the minimum distance.
    *
    * Scale shape: each side is a word-filtered posting fetch (tiny
    * fraction of the corpus), and the pair stage is BLOCKED, not
    * per-doc-quadratic — positions bucket into width-`window` blocks,
    * the `w1` side emits its block ±1, and the equi-join on
    * `(doc_id, block)` bounds candidates to neighboring blocks
    * (|Δpos| ≤ window ⟹ |Δblock| ≤ 1, and each (pos_a, pos_b) pair
    * meets in EXACTLY one (emitted, native) block pair — no distinct
    * needed). The final `abs ≤ window` filter is exact. This is q91's
    * blocking idea in position space; the oracle states the naive
    * `abs(Δpos) ≤ window` theta form, so the driver hash-match pins
    * blocked ≡ naive. */
  def proximitySearch(docs: DataFrame, w1: String, w2: String, window: Int): DataFrame = {
    val pts = TextFns.posTokens(docs)
    proximityPairs(
      pts.where(col("word") === w1).select("doc_id", "pos"),
      pts.where(col("word") === w2).select("doc_id", "pos"),
      window)
  }

  /** The blocked proximity pair stage over two `(doc_id, pos)` posting
    * fetches — shared by the corpus form (q97) and the stored-index
    * form (`IndexStore.proximitySearchStored`), so the persisted
    * artifact answers with the exact same plan shape. */
  private[graft] def proximityPairs(aPos: DataFrame, bPos: DataFrame,
      window: Int): DataFrame = {
    require(window >= 1, "window must be >= 1")
    val a = aPos
      .select(col("doc_id"), col("pos").as("pos_a"),
        explode(sequence(
          floor(col("pos") / window) - 1,
          floor(col("pos") / window) + 1)).as("block"))
    val b = bPos
      .select(col("doc_id"), col("pos").as("pos_b"),
        floor(col("pos") / window).as("block"))
    a.join(b, Seq("doc_id", "block"))
      .where(abs(col("pos_a") - col("pos_b")) <= window)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_pairs"),
        min(abs(col("pos_a") - col("pos_b"))).as("min_dist"))
      .orderBy("doc_id")
  }
}
