package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Semi-structured + temporal operators over the `events` table
  * (SURVEY §2.C q16–q17). JSON extraction and date truncation are
  * built-in codegen'd expressions; the JSON path never leaves the
  * executors.
  *
  * `events.ts` arrives in whichever representation the source parquet
  * used: epoch-nanos LONG (TIMESTAMP(NANOS) under
  * `spark.sql.legacy.parquet.nanosAsLong`), TIMESTAMP_NTZ (µs,
  * isAdjustedToUTC=false — the current testdata layout), or a plain
  * TIMESTAMP. The three bridges below are the ONLY place the library
  * looks at that representation; the session time zone is UTC, so the
  * NTZ→LTZ cast is value-exact.
  */
object Events {

  /** ts as TIMESTAMP regardless of whether the source surfaced it as
    * epoch-nanos LONG (nanosAsLong), TIMESTAMP_NTZ, or a native
    * timestamp. */
  private def tsCol(events: DataFrame) =
    events.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        timestamp_micros(expr("ts div 1000"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        col("ts").cast(org.apache.spark.sql.types.TimestampType)
      case _ => col("ts")
    }

  /** The inverse bridge: a time column as epoch-nanos LONG whether the
    * source surfaced it as nanos LONG (the harness's nanosAsLong
    * parquet config), TIMESTAMP_NTZ (µs precision, UTC session tz →
    * exact ×1000), or a native TIMESTAMP. Every time-ARITHMETIC
    * operator below (gap subtraction, ordering) routes through this,
    * so the library surface works on all three representations —
    * round-2 verdict: raw `ts - lag(ts) > gapNanos` is an
    * interval-vs-long type error on TIMESTAMP input. */
  private def tsNanos(df: DataFrame, time: String = "ts") =
    df.schema(time).dataType match {
      case org.apache.spark.sql.types.LongType => col(time)
      case _ => unix_micros(col(time)
        .cast(org.apache.spark.sql.types.TimestampType)) * lit(1000L)
    }

  /** The calendar-day rendering of `ts` (UTC, yyyy-MM-dd) — q17's day
    * key, shared with `EventStore`'s partition column so the stored
    * layout and the query key can never drift. */
  private[graft] def tsDay(events: DataFrame): org.apache.spark.sql.Column =
    date_format(date_trunc("day", tsCol(events)), "yyyy-MM-dd")

  /** Epoch-MICROS bridge — for values that CROSS the oracle boundary:
    * DuckDB's parquet reader truncates TIMESTAMP(NS) to µs, so a
    * nanos-valued contract column can never hash-match; µs is the
    * shared precision (`epoch_us` there, `ts div 1000` here). */
  private def tsMicros(df: DataFrame, time: String = "ts") =
    df.schema(time).dataType match {
      case org.apache.spark.sql.types.LongType => expr(s"$time div 1000")
      case _ => unix_micros(col(time)
        .cast(org.apache.spark.sql.types.TimestampType))
    }

  /** q34 — schema-ful JSON parsing: `from_json` into a typed struct
    * (vs q16's path-extraction), then struct-field aggregation. */
  def fromJsonAgg(events: DataFrame): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType)))
    events
      .withColumn("j", from_json(col("props"), schema))
      .select(col("event_type"), col("j.k").as("k"))
      .groupBy("event_type")
      .agg(
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"),
        countDistinct(col("k")).as("n_distinct_k"))
      .orderBy("event_type")
  }

  /** q16 — JSON field extraction + aggregation. `get_json_object` pulls
    * `$.k` out of the props JSON string per row. */
  def jsonExtract(events: DataFrame): DataFrame =
    events
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        sum(col("k")).as("sum_k"),
        round(sum(col("k")).cast("double") / count(lit(1)), 2).as("avg_k"))
      .orderBy("event_type")

  /** q176 — the Spark 4 VARIANT path for semi-structured data: props
    * parses ONCE into the binary variant encoding (`parse_json`), then
    * typed extraction (`variant_get(..., 'long')`) feeds the
    * aggregation — vs q16's per-access string re-parse
    * (`get_json_object` re-tokenizes the JSON text on every call; with
    * several extracted fields at 100 TB that repeated parse IS the
    * query cost, which is why VARIANT exists). Same aggregation shape
    * as q16 plus min/max so the typed values flow through an ordering
    * comparator, not just sums. */
  def variantExtract(events: DataFrame): DataFrame =
    events
      .withColumn("k",
        variant_get(parse_json(col("props")), "$.k", "long"))
      .where(col("k").isNotNull)
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"),
        sum(col("k")).as("sum_k"))
      .orderBy("event_type")

  /** q33 — lag/lead navigation: previous/next event value per user in
    * event-time order (event_id tiebreak ⇒ deterministic peers).
    * Ordering runs on the canonical epoch-nanos bridge, so LONG and
    * TIMESTAMP `ts` inputs produce identical output. */
  def lagLead(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(tsNanos(events).asc, col("event_id").asc)
    events.select(
        col("user_id"), col("event_id"), col("value"),
        lag(col("value"), 1).over(w).as("prev_value"),
        lead(col("value"), 1).over(w).as("next_value"))
      .withColumn("delta", col("value") - coalesce(col("prev_value"), lit(0.0)))
      .orderBy("user_id", "event_id")
  }

  /** Generic as-of join: for each left row, the LATEST right row with
    * the same `key` and `time` ≤ the left row's time (inclusive).
    *
    * Spark has no asof-join operator; the naive formulations are a
    * range join (quadratic blow-up per key) or a per-row subquery
    * (driver death). The scalable shape — what a dedicated asof
    * operator does internally — is: tag both sides, union, ONE window
    * per key ordered by (time, side) with `last(…, ignoreNulls)` over
    * an unbounded-preceding frame, keep left rows. One shuffle on the
    * key, O(n log n) per key, no pair explosion; at 1000 executors it
    * scales exactly like any other windowed aggregation.
    *
    * Right-side columns come back as `asof_<name>` (null when no right
    * row precedes). At equal timestamps the right row sorts FIRST
    * (side 0 < 1), giving the standard inclusive "at or before"
    * semantics. Ties among right rows at the SAME timestamp are broken
    * by `rightCols.head` (the id column by convention at every call
    * site): it sorts DESC so `last` lands on the SMALLEST id — the
    * same total order the q145 oracle's `ORDER BY …, event_id ASC
    * LIMIT 1` pins, making the pick partitioning-independent even when
    * a user has two same-timestamp right events. The time column may
    * be epoch-nanos LONG or TIMESTAMP (both sides the same type —
    * unionByName enforces that); ordering uses the canonical nanos
    * bridge. */
  def asofJoin(left: DataFrame, right: DataFrame, key: String, time: String,
      rightCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val both = left.withColumn("_side", lit(1))
      .unionByName(right.withColumn("_side", lit(0)), allowMissingColumns = true)
    val w = Window.partitionBy(col(key))
      .orderBy(tsNanos(both, time).asc, col("_side").asc,
        col(rightCols.head).desc_nulls_last)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    both
      // one select with every asof column → a single Window operator
      // (chained withColumn would stack one Window node per column)
      .select(col("*") +: rightCols.map { c =>
        last(when(col("_side") === 0, col(c)), ignoreNulls = true).over(w)
          .as(s"asof_$c")
      }: _*)
      .where(col("_side") === 1)
      .drop("_side" +: rightCols: _*)
  }

  /** q46 — as-of join under oracle: each purchase matched to the same
    * user's latest click at or before it. */
  def purchaseAsofClick(events: DataFrame): DataFrame = {
    val purchases = events.where(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts", "value")
    val clicks = events.where(col("event_type") === "click")
      .select(col("user_id"), col("ts"),
        col("event_id").as("click_id"), col("value").as("click_value"))
    asofJoin(purchases, clicks, "user_id", "ts", Seq("click_id", "click_value"))
      .select(col("event_id"), col("user_id"), col("value"),
        col("asof_click_id").as("asof_event_id"),
        col("asof_click_value").as("asof_value"))
      .orderBy("event_id")
  }

  /** q54 — batch sessionization: classic gap-based session assignment
    * with two stacked windows over ONE user_id exchange — (1) a new
    * session starts where the gap from the previous event exceeds
    * `gap`; (2) the running sum of starts is the session index. Then
    * one aggregation per (user, session) and one per user. The gap is
    * a DURATION (not raw nanos) and the subtraction runs on the
    * canonical nanos bridge, so LONG-nanos and TIMESTAMP `ts` inputs
    * behave identically; the oracle uses INTERVAL arithmetic on the
    * same timestamps. */
  def sessionize(events: DataFrame,
      gap: java.time.Duration = java.time.Duration.ofMinutes(5)): DataFrame =
    withSessionIds(events, gap)
      .groupBy("user_id", "sess_id")
      .agg(count(lit(1)).as("n_events"))
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_sessions"),
        max(col("n_events")).as("max_session_events"),
        sum(col("n_events")).as("n_events"))
      .orderBy("user_id")

  /** Gap-based session assignment shared by q54/q86: two stacked
    * windows over ONE user_id exchange, on the canonical nanos bridge
    * (LONG-nanos and TIMESTAMP behave identically). Adds `sess_id`
    * (1-based per user). */
  private def withSessionIds(events: DataFrame,
      gap: java.time.Duration): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tsn = tsNanos(events)
    val w = Window.partitionBy(col("user_id")).orderBy(tsn.asc, col("event_id").asc)
    val ws = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .withColumn("new_sess",
        when(tsn - lag(tsn, 1).over(w) > lit(gap.toNanos), 1L)
          .when(lag(tsn, 1).over(w).isNull, 1L)
          .otherwise(0L))
      .withColumn("sess_id", sum(col("new_sess")).over(ws))
  }

  /** q86 — session funnel: within each gap-based session, does a
    * 'click' STRICTLY precede a 'purchase'? The order-sensitive
    * pattern ∃(c, p): ts_c < ts_p collapses to
    * min(click ts) < max(purchase ts) — two conditional aggregates,
    * no self-join, no per-event pattern state; rides the same single
    * user_id exchange as q54 and then two hash aggregations.
    * Equal-timestamp pairs do NOT convert (strict <), mirrored in the
    * oracle. Per-user output: sessions, sessions with a click, and
    * converted sessions. */
  def sessionFunnel(events: DataFrame,
      gap: java.time.Duration = java.time.Duration.ofMinutes(5)): DataFrame = {
    val sess = withSessionIds(events, gap)
    val tsn = tsNanos(sess)
    sess.groupBy("user_id", "sess_id")
      .agg(
        min(when(col("event_type") === "click", tsn)).as("first_click"),
        max(when(col("event_type") === "purchase", tsn)).as("last_purchase"))
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_sessions"),
        sum(col("first_click").isNotNull.cast("long")).as("n_click_sessions"),
        sum((col("first_click").isNotNull && col("last_purchase").isNotNull &&
          col("first_click") < col("last_purchase")).cast("long")).as("n_converted"))
      .orderBy("user_id")
  }

  /** q157 — grouped TOP-K through the bounded typed Aggregator
    * (functions.TopKAggregator) instead of the window formulation:
    * `row_number() OVER (PARTITION BY type ORDER BY …) <= k` sorts
    * EVERY row of every group; the aggregator's state never exceeds k
    * pairs, collapses map-side, and ships k rows per group through the
    * exchange. The oracle STATES the window formulation — the hash
    * gate is the proof that the bounded-state path picks identical
    * survivors (value DESC, event_id ASC tie-break, total order). */
  def groupedTopK(events: DataFrame, k: Int = 5): DataFrame = {
    val topk = udaf(new graft.functions.TopKAggregator(k),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Double, Long)]())
    events
      // The aggregator's input encoder is a NON-NULLABLE (Double, Long)
      // tuple — a NULL value/event_id row would throw at runtime rather
      // than rank. The operator's CONTRACT is therefore "top k among
      // non-null (value, event_id) rows", enforced here instead of
      // crashing; it diverges from the oracle's NULLS-LAST window only
      // for a group with fewer than k non-null rows AND null stragglers
      // — rows a ranking by value cannot meaningfully order anyway.
      .where(col("value").isNotNull && col("event_id").isNotNull)
      .groupBy("event_type")
      .agg(topk(col("value"), col("event_id")).as("top"))
      .select(col("event_type"), posexplode(col("top")).as(Seq("i", "p")))
      .select(col("event_type"), (col("i") + 1).cast("long").as("rank"),
        col("p._2").as("event_id"), col("p._1").as("value"))
      .orderBy("event_type", "rank")
  }

  /** q158 — INTERVAL-OVERLAP join via fixed-width bucket blocking: for
    * each purchase, how many OTHER users' padded session windows
    * [first−pad, last+pad] contain it — the "concurrent activity"
    * enrichment every event pipeline eventually needs, and an operator
    * class Spark does not ship: a containment join has no equi key, so
    * the naive form plans as a BroadcastNestedLoopJoin —
    * O(|probes|·|intervals|) at any size. The scale path is standard
    * bucketization: each interval EXPLODES into the fixed-width
    * buckets it touches (`sequence` — bounded fan: (pad+len)/width,
    * 2–3 buckets at these parameters), the probe lands in exactly ONE
    * bucket, and the join becomes an EQUI join on the bucket id with
    * containment + user-inequality as residual — hash-partitioned,
    * AQE-splittable, linear in probes. Any interval CONTAINING a probe
    * overlaps the probe's bucket (it spans every bucket it touches),
    * and the probe has exactly one bucket, so no pair can match twice
    * or be missed: blocked ≡ naive EXACTLY — the oracle states the
    * naive containment join and the hash gate proves the equivalence.
    * The LEFT join keeps zero-concurrency purchases (count of the
    * right key over NULLs, like the oracle's). Times compare in epoch
    * MICROS, the shared oracle precision. */
  /** The padded per-session activity windows `(s_user, s_us, e_us)` —
    * q158's interval relation, shared with the streaming probe so both
    * paths join against ONE definition. */
  private[graft] def sessionIntervals(events: DataFrame,
      gap: java.time.Duration = java.time.Duration.ofMinutes(5),
      pad: java.time.Duration = java.time.Duration.ofMinutes(30)): DataFrame = {
    val padUs = pad.toMillis * 1000L
    val sess = withSessionIds(events, gap)
    val sessUs = tsMicros(sess)
    sess.groupBy(col("user_id").as("s_user"), col("sess_id"))
      .agg((min(sessUs) - padUs).as("s_us"), (max(sessUs) + padUs).as("e_us"))
  }

  /** The bucketized probe⋈interval join shared by batch q158 and the
    * streaming twin: probe rows are `(event_id, user_id, t_us)`. */
  private[graft] def bucketedIntervalJoin(probe: DataFrame,
      intervals: DataFrame, bucket: java.time.Duration): DataFrame = {
    val w = bucket.toMillis * 1000L
    val ivB = intervals.withColumn("bkt",
      explode(sequence(expr(s"s_us div $w"), expr(s"e_us div $w"))))
    val p = probe.withColumn("bkt", expr(s"t_us div $w"))
    p.join(ivB,
        p("bkt") === ivB("bkt") &&
          col("t_us").between(col("s_us"), col("e_us")) &&
          col("s_user") =!= col("user_id"),
        "left")
      .groupBy("event_id")
      .agg(count(col("s_user")).as("n_concurrent"))
  }

  def concurrentSessions(events: DataFrame,
      gap: java.time.Duration = java.time.Duration.ofMinutes(5),
      pad: java.time.Duration = java.time.Duration.ofMinutes(30),
      bucket: java.time.Duration = java.time.Duration.ofHours(1)): DataFrame = {
    val probe = events.where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), tsMicros(events).as("t_us"))
    bucketedIntervalJoin(probe, sessionIntervals(events, gap, pad), bucket)
      .orderBy("event_id")
  }

  /** q63 — tumbling time buckets (batch twin of the streaming window
    * aggregation): events land in fixed `bucket`-wide windows aligned
    * to the epoch, counted and summed per (window, type). The bucket
    * start is computed with INTEGER nanos arithmetic (tsn − tsn mod
    * width) — never a double division, which would lose precision on
    * epoch-nanos magnitudes. One shuffle, map-side partials. The
    * bucket leaves as a 'yyyy-MM-dd HH' string; the oracle's
    * time_bucket aligns identically because the epoch is a multiple of
    * every sub-day width. */
  def timeBuckets(events: DataFrame,
      bucket: java.time.Duration = java.time.Duration.ofHours(6)): DataFrame = {
    val b = lit(bucket.toNanos)
    events
      .withColumn("_tsn", tsNanos(events))
      .withColumn("_bstart", col("_tsn") - pmod(col("_tsn"), b))
      .withColumn("bucket",
        date_format(timestamp_micros(expr("_bstart div 1000")), "yyyy-MM-dd HH"))
      .groupBy("bucket", "event_type")
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .orderBy("bucket", "event_type")
  }

  /** q70 — RANGE-frame window: per event, the running sum of the same
    * user's values in the trailing `window` (event-time, inclusive) —
    * the batch form of a sliding aggregate. The frame is a true RANGE
    * over the canonical nanos order column (peers at equal timestamps
    * are included on both engines); boundaries are integer nanos.
    * Money routes through DECIMAL so the frame sum is
    * order-independent. One shuffle on user_id. */
  def trailingWindowSum(events: DataFrame,
      window: java.time.Duration = java.time.Duration.ofHours(1)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(tsNanos(events).asc)
      .rangeBetween(-window.toNanos, 0)
    events
      .select(col("user_id"), col("event_id"), col("value"),
        sum(col("value").cast("decimal(18,2)")).over(w).cast("double").as("trail_sum"))
      .orderBy("user_id", "event_id")
  }

  /** q117 — per-(user, type) z-score anomaly flags: events whose value
    * sits more than `z` standard deviations from their own group's
    * mean (the standard metrics-outlier pass before events feed a
    * pipeline). Decorrelated form: one grouped aggregate of (n, Σv,
    * Σv²) with map-side combine, joined back on the group key — both
    * sides hash-partition on (user_id, event_type), co-located.
    *
    * Every moment is INTEGER arithmetic on value-cents, and the gate
    * is the cross-multiplied exact form |z|>z ⇔ (n·v−Σv)² >
    * z²·(n·Σv²−(Σv)²) — no float mean/stddev whose accumulation order
    * could flip a boundary row between engines. The reported z is one
    * exact-integer division + sqrt per row, rounded to 6 dp.
    * (BIGINT headroom: cents ≤ ~10⁵ here, so (n·v)² stays ≲10²² only
    * past ~10⁹-row GROUPS — a per-user-type cardinality no real events
    * table reaches; the moments themselves never overflow.) */
  def zscoreAnomalies(events: DataFrame, z: Int = 2): DataFrame = {
    val base = events.select(col("event_id"), col("user_id"),
      col("event_type"), round(col("value") * 100).cast("long").as("vc"))
    val stats = base.groupBy("user_id", "event_type").agg(
      count(lit(1)).as("n"),
      sum(col("vc")).as("sumc"),
      sum(col("vc") * col("vc")).as("sumc2"))
    val num = col("n") * col("vc") - col("sumc")
    val den = col("n") * col("sumc2") - col("sumc") * col("sumc")
    base.join(stats, Seq("user_id", "event_type"))
      .where(col("n") >= 2 && den > 0 && num * num > lit(z.toLong * z) * den)
      .select(col("event_id"), col("user_id"), col("event_type"), col("n"),
        round(num / sqrt(den.cast("double")), 6).as("zscore"))
      .orderBy("event_id")
  }

  /** q119 — cohort retention: users grouped by their FIRST-activity
    * day (the cohort; the testdata stream spans one calendar month, so
    * daily is the granularity with signal — a production run would
    * pass month-truncated days), distinct-user counts per (cohort,
    * activity day) — the standard product-analytics retention grid.
    * Two shuffles: the per-user min (map-side combinable) and the
    * final distinct-count rollup; the cohort join back to the activity
    * rows co-locates on user_id with the first aggregate. days_since
    * is DATE subtraction — integer-exact on both engines, no
    * interval/float types. Days leave as 'yyyy-MM-dd' strings (the
    * q17 convention). */
  def retentionCohorts(events: DataFrame): DataFrame = {
    val day = date_format(date_trunc("day", tsCol(events)), "yyyy-MM-dd")
    val ev = events.select(col("user_id"), day.as("day"))
    val first = ev.groupBy("user_id").agg(min(col("day")).as("cohort"))
    ev.join(first, Seq("user_id"))
      .groupBy("cohort", "day")
      .agg(countDistinct(col("user_id")).as("n_users"))
      .withColumn("days_since",
        datediff(to_date(col("day")), to_date(col("cohort"))).cast("long"))
      .select("cohort", "day", "days_since", "n_users")
      .orderBy("cohort", "day")
  }

  /** q129 — histogram-bucketed median: the SCALABLE quantile path
    * beside q40's exact sort-based percentile. One aggregation pass
    * builds a width-1 integer histogram per type (map-side
    * combinable; bin count bounded by the value RANGE, not the row
    * count), then the lower-median bin is the smallest bin whose
    * cumulative count reaches half — a per-type window over the
    * BOUNDED histogram, never a sort of the data. All-integer pick
    * rule (2·cum ≥ n ⟺ cum ≥ ⌈n/2⌉ for odd n, lower median for
    * even), so both engines choose identically; the float value never
    * leaves the bin id. Spec pins the exact median falls inside the
    * chosen bin. */
  def histoQuantile(events: DataFrame): DataFrame = {
    val hist = events
      .select(col("event_type"), floor(col("value")).cast("long").as("bin"))
      .groupBy("event_type", "bin")
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("event_type").orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist.withColumn("cum", sum(col("cnt")).over(w))
    val tot = hist.groupBy("event_type").agg(sum(col("cnt")).as("n"))
    cum.join(broadcast(tot), Seq("event_type"))
      .where(col("cum") * 2 >= col("n"))
      .groupBy("event_type", "n")
      .agg(min(col("bin")).as("p50_bin"))
      .select("event_type", "n", "p50_bin")
      .orderBy("event_type")
  }

  /** q148 — the PERCENTILE LADDER from one histogram pass: p25/p50/
    * p75/p95 bins per type out of the SAME bounded cumulative relation
    * q129 builds — four conditional mins on one aggregation, so the
    * whole ladder costs exactly one histogram scan (q51's exact ladder
    * sorts the data; this is its scale path). Pick rule per target p:
    * smallest bin with 100·cum ≥ p·n — all-integer, engine-identical.
    */
  /** q156 — events served from a JSON-LINES sidecar (Sidecar.jsonl):
    * the operator under test is the json writer+reader pair with the
    * parquet schema applied on read, gated against an oracle reading
    * the PARQUET original. The min/max EPOCH-MICROS columns are the
    * timestamp-fidelity tripwire: events.ts is µs-grained, so a reader
    * or writer that silently falls back to the default millis text
    * pattern floors 999 of every 1000 timestamps and the hash gate
    * goes red — it cannot drift silently. One combinable aggregation;
    * n_users is exact distinct (type-bounded groups). */
  def typeProfile(events: DataFrame): DataFrame =
    events
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"),
        sum(round(col("value") * 100).cast("long")).as("sum_value_c"),
        min(tsMicros(events)).as("first_us"),
        max(tsMicros(events)).as("last_us"))
      .orderBy("event_type")

  def histoLadder(events: DataFrame): DataFrame = {
    val hist = events
      .select(col("event_type"), floor(col("value")).cast("long").as("bin"))
      .groupBy("event_type", "bin")
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("event_type").orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist.withColumn("cum", sum(col("cnt")).over(w))
      .join(broadcast(hist.groupBy("event_type").agg(sum(col("cnt")).as("n"))),
        Seq("event_type"))
    def pick(p: Int) =
      min(when(col("cum") * 100 >= col("n") * p, col("bin"))).as(s"p${p}_bin")
    cum.groupBy("event_type", "n")
      .agg(pick(25), pick(50), pick(75), pick(95))
      .orderBy("event_type")
  }

  /** The FORWARD as-of join — q46's mirror: each left row matched to
    * the same key's EARLIEST right row at or after it ("what happened
    * next"). Same union + one-window shape (one shuffle, no range-join
    * pair explosion); the frame flips to [current, unbounded
    * following] with `first(ignoreNulls)`. Here the LEFT side must
    * sort first at equal timestamps (`_side` DESC): the ROWS frame
    * starts at the physical current row, so a right row sorted before
    * the left row would be excluded and "at or after" would silently
    * turn exclusive at ties. Ties among right rows at the same
    * timestamp break on `rightCols.head` ASC, so `first` lands on the
    * SMALLEST id — exactly the q131 oracle's `ORDER BY p.ts ASC,
    * p.event_id ASC LIMIT 1`. */
  def asofJoinForward(left: DataFrame, right: DataFrame, key: String,
      time: String, rightCols: Seq[String]): DataFrame = {
    val both = left.withColumn("_side", lit(1))
      .unionByName(right.withColumn("_side", lit(0)), allowMissingColumns = true)
    val w = Window.partitionBy(col(key))
      .orderBy(tsNanos(both, time).asc, col("_side").desc,
        col(rightCols.head).asc_nulls_last)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    both
      .select(col("*") +: rightCols.map { c =>
        first(when(col("_side") === 0, col(c)), ignoreNulls = true).over(w)
          .as(s"asof_$c")
      }: _*)
      .where(col("_side") === 1)
      .drop("_side" +: rightCols: _*)
  }

  /** q131 — forward as-of under oracle: each click matched to the same
    * user's NEXT purchase at or after it (the conversion-latency
    * primitive; q46 looks backward, this looks forward). */
  def clickAsofPurchase(events: DataFrame): DataFrame = {
    val clicks = events.where(col("event_type") === "click")
      .select("event_id", "user_id", "ts", "value")
    val purchases = events.where(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"),
        col("event_id").as("purchase_id"), col("value").as("purchase_value"))
    asofJoinForward(clicks, purchases, "user_id", "ts",
      Seq("purchase_id", "purchase_value"))
      .select(col("event_id"), col("user_id"), col("value"),
        col("asof_purchase_id").as("next_event_id"),
        col("asof_purchase_value").as("next_value"))
      .orderBy("event_id")
  }

  /** q134 — per-user event journey through the TYPED API
    * (`KeyValueGroupedDataset.mapGroups`, the batch face of the
    * streaming state operators): each user's events ordered by
    * (time, event_id) and folded into the `a>b>c` path string — the
    * user-behavior relation funnel tools consume. One shuffle on
    * user_id; the per-group sort is bounded by a user's own history.
    * mapGroups (not the SQL `string_agg`) on purpose: q37 proved the
    * typed Aggregator surface, this proves typed GROUPS — and the
    * oracle's ordered `string_agg` pins the imperative fold to the
    * declarative semantics. */
  def userJourney(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("user_id"), tsNanos(events).as("tsn"),
        col("event_type"), col("event_id"))
      .as[(Long, Long, String, Long)]
      .groupByKey(_._1)
      .mapGroups { (uid, it) =>
        val evs = it.toArray.sortBy(e => (e._2, e._4))
        (uid, evs.length.toLong, evs.map(_._3).mkString(">"))
      }
      .toDF("user_id", "n_events", "journey")
      .orderBy("user_id")
  }

  /** q135 — the event-type transition matrix (first-order Markov
    * counts): per-user time-ordered `lead` pairs, aggregated globally,
    * with the conditional transition probability as exact integer
    * micros (n·10⁶ div row-total — the q88 determinism discipline; a
    * float ratio would be fine here but the integer form is
    * partition-order-proof by construction). One user_id window
    * exchange + two bounded aggregations (state space = event types²).
    */
  def eventTransitions(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("tsn").asc, col("event_id").asc)
    val pairs = events
      .select(col("user_id"), col("event_id"), tsNanos(events).as("tsn"),
        col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .where(col("next_type").isNotNull)
      .groupBy("event_type", "next_type")
      .agg(count(lit(1)).as("n"))
    val tot = pairs.groupBy("event_type").agg(sum(col("n")).as("tot"))
    pairs.join(broadcast(tot), Seq("event_type"))
      .withColumn("p_micros", expr("n * 1000000 div tot"))
      .select("event_type", "next_type", "n", "p_micros")
      .orderBy("event_type", "next_type")
  }

  /** q137 — SCD-2 version intervals (the slowly-changing-dimension
    * history build): each per-user event opens a version valid
    * [its time, the next event's time); the open head carries
    * Long.MaxValue and `is_current`. Validity bounds are EPOCH-MICROS
    * LONGS end to end — integer-exact on both engines (DuckDB
    * `epoch_us`; the raw nanos differ because DuckDB's parquet reader
    * truncates TIMESTAMP(NS) to µs — the same reason tsCol is the µs
    * bridge), no timestamp formatting in the contract. One user-keyed
    * window pass. */
  def scd2Versions(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("valid_from").asc, col("event_id").asc)
    events
      .select(col("user_id"), col("event_id"), col("value"),
        tsMicros(events).as("valid_from"))
      .withColumn("valid_to",
        coalesce(lead(col("valid_from"), 1).over(w), lit(Long.MaxValue)))
      .withColumn("is_current", col("valid_to") === Long.MaxValue)
      .select("user_id", "event_id", "value", "valid_from", "valid_to",
        "is_current")
      .orderBy("user_id", "valid_from", "event_id")
  }

  /** q141 — least-squares trend (value vs. time) per event type, from
    * EXACT integer power sums — the ML-adjacent aggregation pattern
    * (X'X normal equations) done the q52 way: x = µs since 2024-01-01
    * (a fixed literal epoch, so no extra min() pass), y = value cents,
    * Σx/Σy/Σxy/Σx² accumulated in DECIMAL(38,0) (order-independent,
    * partition-proof; doubles would drift with partition order). The
    * slope/intercept division happens ONCE per group in DOUBLE, with
    * the exact same expression TEXT as the oracle so the IEEE op
    * sequence — and therefore every bit — matches. One map-side-
    * combinable aggregation; 5 numbers per group of state. */
  def linregTrend(events: DataFrame): DataFrame = {
    val epoch = 1704067200000000L // 2024-01-01T00:00:00Z in micros
    events
      .select(col("event_type"),
        (tsMicros(events) - epoch).cast("decimal(19,0)").as("x"),
        round(col("value") * 100).cast("long").cast("decimal(19,0)").as("y"))
      .groupBy("event_type")
      .agg(count(lit(1)).cast("decimal(38,0)").as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .select(col("event_type"), col("n").cast("long").as("n"),
        expr("round(CAST(n * sxy - sx * sy AS DOUBLE) " +
          "/ CAST(n * sxx - sx * sx AS DOUBLE) * 86400000000, 6)")
          .as("slope_cents_per_day"),
        expr("round((CAST(sy AS DOUBLE) - CAST(n * sxy - sx * sy AS DOUBLE) " +
          "/ CAST(n * sxx - sx * sx AS DOUBLE) * CAST(sx AS DOUBLE)) " +
          "/ CAST(n AS DOUBLE), 4)").as("intercept_cents"))
      .orderBy("event_type")
  }

  /** q145 — NEAREST-event temporal join: each purchase matched to the
    * click closest in time in EITHER direction — composed from the two
    * as-of primitives (q46 backward, q131 forward) plus a per-row
    * selection, which is exactly how a nearest join should scale: two
    * one-shuffle window passes and a key-aligned join of their
    * one-row-per-purchase outputs, never a |clicks|×|purchases| range
    * explosion. Tie at equal distance → the earlier (backward) click;
    * distances compare in EPOCH MICROS (the oracle precision — q137's
    * lesson); signed delta_us keeps the direction visible. */
  def nearestClick(events: DataFrame): DataFrame = {
    val us = tsMicros(events)
    val purchases = events.where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"), us.as("t_us"))
    val clicks = events.where(col("event_type") === "click")
      .select(col("user_id"), col("ts"), us.as("c_us"),
        col("event_id").as("click_id"))
    val back = asofJoin(purchases, clicks, "user_id", "ts",
        Seq("click_id", "c_us"))
      .select(col("event_id"), col("user_id"), col("t_us"),
        col("asof_click_id").as("b_id"), col("asof_c_us").as("b_us"))
    val fwd = asofJoinForward(purchases, clicks, "user_id", "ts",
        Seq("click_id", "c_us"))
      .select(col("event_id"), col("asof_click_id").as("f_id"),
        col("asof_c_us").as("f_us"))
    back.join(fwd, Seq("event_id"))
      .withColumn("pick_b",
        col("f_id").isNull || (col("b_id").isNotNull &&
          (col("t_us") - col("b_us")) <= (col("f_us") - col("t_us"))))
      .select(col("event_id"), col("user_id"),
        when(col("pick_b"), col("b_id")).otherwise(col("f_id"))
          .as("nearest_click_id"),
        when(col("pick_b"), col("b_us") - col("t_us"))
          .otherwise(col("f_us") - col("t_us")).as("delta_us"))
      .orderBy("event_id")
  }

  /** q147 — MAP-typed JSON surface: `props` parsed as MAP<STRING,LONG>
    * (schema-less keys — the shape q16's path extraction and q34's
    * fixed struct both dodge) and EXPLODED to (key, value) rows, then
    * per-key stats. The map never reaches the contract output (the
    * driver comparator is scalar-only); it exists inside the plan,
    * which is the point — Generate(explode(map)) is its own operator
    * class. One narrow Generate pass + one combinable aggregation
    * bounded by the key vocabulary. */
  def mapKeyStats(events: DataFrame): DataFrame = {
    val mapType = org.apache.spark.sql.types.MapType(
      org.apache.spark.sql.types.StringType,
      org.apache.spark.sql.types.LongType)
    events
      .select(explode(from_json(col("props"), mapType)).as(Seq("k", "v")))
      .groupBy("k")
      .agg(count(lit(1)).as("n"),
        countDistinct(col("v")).as("n_vals"),
        min(col("v")).as("min_v"), max(col("v")).as("max_v"))
      .orderBy("k")
  }

  /** Explicit pmod FLOOR division as SQL text — Spark `div` truncates
    * toward zero while DuckDB `//` floors, so any engine-crossing
    * division whose operands can go negative must spell the floor out
    * (the q214 bucket lesson). Requires b > 0; b = 0 pins to 0 so a
    * degenerate denominator is a visible zero, not an error. */
  private def fdiv(a: String, b: String): String =
    s"CASE WHEN ($b) = 0 THEN 0 " +
      s"ELSE (($a) - ((($a) % ($b)) + ($b)) % ($b)) div ($b) END"

  /** Epoch day as a FLOOR division of epoch micros — the fdiv spelling
    * applied to the day grain, because the DuckDB oracles compute day
    * with `//` (floor) while Spark's `div` truncates toward zero: the
    * two agree only for nonnegative timestamps. This corpus is
    * post-1970, but the operator contract shouldn't be — a pre-1970
    * timestamp must land on the same day on both engines (the fdiv /
    * q214 bucket lesson applied to time). */
  private def floorDayExpr(micros: String): String =
    fdiv(micros, "86400000000")

  /** q215 — per-type OLS TREND, integer-exact: the drift detector a
    * metrics pipeline runs over event values (is this signal going up
    * or down, and how fast). Two-stage shape: (1) the corpus-sized
    * pass reduces to ONE row per (type, day) — value micros sum +
    * count, so the daily mean is an exact integer division; (2) the
    * day-bounded relation takes its per-type min day from a
    * PARTITIONED window (no second pass over events; the regressor is
    * CENTERED so Σd² stays ~days², never epoch-day-sized, which is
    * what keeps every closed-form product inside BIGINT), then the
    * five OLS sums close the fit:
    * slope = (nΣdy − ΣdΣy) / (nΣd² − (Σd)²), intercept from the
    * residual — both as explicit pmod floor-divisions (negative
    * slopes exist; Spark `div` truncation would silently disagree
    * with the oracle's floor). A single-day type has zero denominator
    * → slope pins to 0 (flat), intercept degrades to the day mean.
    * Everything after stage 1 is bounded by types × days. */
  def olsTrend(events: DataFrame): DataFrame =
    olsFit(olsDailyState(events))

  /** q215's stage 1 — the per-(type, day) value-micros sums. This is
    * the operator's MERGEABLE STATE: both columns are plain sums, so
    * partial states over any row partition of the corpus merge by
    * addition (the q120/q130 partial-aggregate law) — which is what
    * q218 exploits. */
  private def olsDailyState(events: DataFrame): DataFrame =
    events
      .withColumn("eus", tsMicros(events))
      .withColumn("day", expr(floorDayExpr("eus")))
      .groupBy("event_type", "day")
      .agg(sum(floor(col("value") * 1e6).cast("long")).as("sum_q"),
        count(lit(1)).as("n_ev"))

  /** q215's stage 2 — close the fit from the day-bounded state. */
  private def olsFit(daily: DataFrame): DataFrame =
    daily
      .withColumn("y", expr(fdiv("sum_q", "n_ev")))
      .withColumn("d0", min(col("day")).over(
        org.apache.spark.sql.expressions.Window.partitionBy("event_type")))
      .withColumn("d", col("day") - col("d0"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_days"), sum(col("d")).as("sum_d"),
        sum(col("y")).as("sum_y"), sum(col("d") * col("y")).as("sum_dy"),
        sum(col("d") * col("d")).as("sum_d2"))
      .withColumn("slope_q", expr(fdiv(
        "n_days * sum_dy - sum_d * sum_y",
        "n_days * sum_d2 - sum_d * sum_d")))
      .withColumn("intercept_q", expr(fdiv(
        "sum_y - slope_q * sum_d", "n_days")))
      .select("event_type", "n_days", "sum_d", "sum_y", "slope_q",
        "intercept_q")
      .orderBy("event_type")

  /** q218 — INCREMENTAL maintenance of the q215 fit: merge ≡ rebuild
    * applied to the newest operator's state, extending the suite's
    * law (sketches q90/q94, postings q98/q171, labels q202, graph
    * q206) to regression. Yesterday's stored per-(type, day) sums
    * (stand-in: events below `cap`, the q202 oracle convention —
    * production reads the state table) merge with the new batch's
    * partial state by ADDITION — sum_q and n_ev are plain sums, so
    * day rows straddling the split collapse exactly — and the
    * day-bounded fit re-closes. Only the BATCH is scanned; the
    * stored side is day-bounded state, never old events. Oracle =
    * q215's full-corpus text VERBATIM (shared constant): the hash
    * match IS merge ≡ rebuild. */
  def olsTrendIncremental(events: DataFrame, cap: Long = 5000L): DataFrame = {
    val stored = olsDailyState(events.where(col("event_id") < cap))
    val delta = olsDailyState(events.where(col("event_id") >= cap))
    val merged = stored.unionByName(delta)
      .groupBy("event_type", "day")
      .agg(sum(col("sum_q")).as("sum_q"), sum(col("n_ev")).as("n_ev"))
    olsFit(merged)
  }

  /** q218's fit state as a PORTABLE relation — the per-(type, day)
    * value-micros sums, both columns plain sums, so any number of
    * stored states and batch partials merge by addition (the
    * nbStateDelta convention applied to regression). This is what a
    * production pipeline persists between days. */
  def olsStateDelta(events: DataFrame): DataFrame = olsDailyState(events)

  /** The PRODUCTION path of q218's maintenance cycle: the stored fit
    * state (the [[olsStateDelta]] shape, read back from storage)
    * merged with the arriving batch's partials by the one additive
    * rule, and the fit re-closed from the day-bounded state — ONLY
    * the batch is scanned, no old event is touched. q218 is this
    * path's oracle-convention twin (it rebuilds the stored side
    * in-query so the DuckDB oracle can replay it); StoreBench prices
    * the two side by side. */
  def olsProductionCycle(storedState: DataFrame, batch: DataFrame): DataFrame =
    olsFit(storedState.unionByName(olsDailyState(batch))
      .groupBy("event_type", "day")
      .agg(sum(col("sum_q")).as("sum_q"), sum(col("n_ev")).as("n_ev")))

  /** q17 — per-day, per-type temporal rollup. The day leaves as a
    * 'yyyy-MM-dd' string so both engines compare the same value. */
  def dateTruncAgg(events: DataFrame): DataFrame =
    events
      .withColumn("day", tsDay(events))
      .groupBy("day", "event_type")
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .orderBy("day", "event_type")

  /** q229 — ACTIVITY STREAKS (gaps-and-islands): per-user runs of
    * consecutive active DAYS — the retention primitive behind streak
    * features and churn heuristics, and the canonical islands
    * pattern: island_id = day − row_number over the user's DISTINCT
    * active days (both exact integers, so consecutive days share an
    * id and any gap starts a new one). Shapes that matter at scale:
    * the distinct collapses events-per-day BEFORE the window (the
    * window sees ≤ active-days rows per user, never raw events); the
    * one window is PARTITIONED by user (bounded by one user's
    * history, the q54/q137 shape — never corpus-wide); both
    * aggregations are map-side-combinable. Output: per-user day
    * count, streak count, longest/latest streak — bounded by the
    * user population. */
  def activityStreaks(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val days = events
      .withColumn("eus", tsMicros(events))
      .select(col("user_id"), expr(floorDayExpr("eus")).as("day"))
      .distinct()
    val w = Window.partitionBy("user_id").orderBy("day")
    days
      .withColumn("island", col("day") - row_number().over(w))
      .groupBy("user_id", "island")
      .agg(count(lit(1)).as("len"), max(col("day")).as("streak_end"))
      .groupBy("user_id")
      .agg(sum(col("len")).as("n_active_days"),
        count(lit(1)).as("n_streaks"),
        max(col("len")).as("longest_streak"),
        max_by(col("len"), col("streak_end")).as("latest_streak_len"),
        max(col("streak_end")).as("last_active_day"))
      .orderBy("user_id")
  }

  /** q230 — MAD outliers: the ROBUST twin of q117's z-score gate (a
    * mean/stddev gate is itself dragged by the outliers it hunts; the
    * median absolute deviation is breakdown-point-0.5 robust). Both
    * medians ride the q129 bounded-histogram path — per-type
    * lower-median bin by the all-integer 2·cum ≥ n rule, then a
    * SECOND bounded histogram over |bin − med| (deviation range ≤
    * value range, still bounded) — so nothing corpus-sized is ever
    * sorted; the gate `dev > 3·mad` is an exact integer comparison
    * decided BEFORE any reporting arithmetic (the q117 discipline).
    * Values enter as whole-unit bins (the q129 grain — at this data's
    * [0,1000] range that is the documented resolution; a finer corpus
    * scales the bin width, not the algorithm). Output: one row per
    * type with med, mad, outlier count and total — bounded by the
    * type vocabulary. */
  def madOutliers(events: DataFrame): DataFrame = {
    val binned = events
      .select(col("event_type"), floor(col("value")).cast("long").as("bin"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def lowerMedian(df: DataFrame, c: String): DataFrame = {
      val hist = df.groupBy(col("event_type"), col(c).as("bin"))
        .agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy("event_type").orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      hist.withColumn("cum", sum(col("cnt")).over(w))
        .join(broadcast(hist.groupBy("event_type")
          .agg(sum(col("cnt")).as("n"))), Seq("event_type"))
        .where(col("cum") * 2 >= col("n"))
        .groupBy("event_type")
        .agg(min(col("bin")).as("med"))
    }
    val med = lowerMedian(binned, "bin")
    val devs = binned.join(broadcast(med), "event_type")
      .withColumn("dev", abs(col("bin") - col("med")))
    val mad = lowerMedian(devs.select(col("event_type"),
      col("dev").as("bin")), "bin").withColumnRenamed("med", "mad")
    val result = devs.join(broadcast(mad), "event_type")
      .groupBy(col("event_type"), col("med"), col("mad"))
      .agg(count(lit(1)).as("n_events"),
        sum((col("dev") > col("mad") * 3L).cast("long")).as("n_outliers"))
      .orderBy("event_type")
    graft.operators.Dedup.finishWith(result, binned)
  }

  /** q237 — session PATH MINING: the top-k most frequent 3-step
    * event-type paths taken INSIDE a gap session (q135's transition
    * matrix is first-order; real funnel analysis asks "what three
    * steps do users actually chain?"). Paths never cross a session
    * boundary — the two leads are windowed over (user, sess_id), so a
    * login that follows yesterday's purchase is not a path. The gap
    * default (4 h) matches this stream's density — at ~2 events per
    * user-day, q54's 5-minute UI-burst gap leaves almost every
    * session below 3 events and the relation degenerates to one row;
    * the gap is the operator's knob, not a constant.
    *
    * Shape: the q54 session assignment (two stacked windows, ONE
    * user_id exchange), two `lead`s over the same (user, session)
    * window — no self-joins, the classic k-gram-by-window trick — a
    * path-vocabulary-bounded aggregation, and a TakeOrdered top-k
    * (per-partition heap, never a corpus sort). Ties break by path
    * text so the cut is deterministic cross-engine. */
  def eventPaths(events: DataFrame, k: Int = 20,
      gap: java.time.Duration = java.time.Duration.ofMinutes(240)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tsn = tsNanos(events)
    val sess = withSessionIds(events, gap)
      .withColumn("tsn", tsn)
    val w = Window.partitionBy("user_id", "sess_id")
      .orderBy(col("tsn").asc, col("event_id").asc)
    sess
      .withColumn("t2", lead(col("event_type"), 1).over(w))
      .withColumn("t3", lead(col("event_type"), 2).over(w))
      .where(col("t2").isNotNull && col("t3").isNotNull)
      .groupBy(col("event_type").as("s1"), col("t2").as("s2"),
        col("t3").as("s3"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("s1"), col("s2"), col("s3"))
      .limit(k)
  }

  /** q238 — recency-weighted user value with POWER-OF-TWO decay: each
    * event contributes its µ-quantized value halved once per week of
    * age — the feature-engineering step behind "recent activity
    * matters more" scores, made EXACT so the relation is oracle-gated
    * rather than float-trusted. The decay is an arithmetic right
    * shift (shift = min(age_weeks, 62)): both engines floor-divide by
    * 2^shift (DuckDB `>>` and Spark `shiftright` are arithmetic
    * shifts — verified for negative inputs too, though this corpus's
    * values are nonnegative), so the per-user sum is an exact integer
    * on any partitioning. The anchor "now" is the corpus max day — a
    * one-row broadcast cross (the q93/q209 consts pattern), never a
    * driver-side read — so the relation is a pure function of the
    * table. One corpus aggregation on user_id after the row-local
    * shift; nothing else. */
  def decayScores(events: DataFrame): DataFrame = {
    val withDay = events
      .withColumn("eus", tsMicros(events))
      .withColumn("day", expr(floorDayExpr("eus")))
      .withColumn("v_q", floor(col("value") * 1e6).cast("long"))
    val anchor = withDay.agg(max(col("day")).as("now_day"))
    withDay.crossJoin(broadcast(anchor))
      .withColumn("shift",
        least(expr("(now_day - day) div 7"), lit(62L)).cast("int"))
      .withColumn("term", expr("shiftright(v_q, shift)"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        sum(col("term")).as("score_q"),
        max(col("day")).as("last_day"))
      .orderBy("user_id")
  }

  /** q243 — ORDERED funnel conversion: of all gap sessions, how many
    * contain a view, a click STRICTLY AFTER the first view, and a
    * purchase STRICTLY AFTER the first such click — the 3-step
    * product-funnel number (q86's 2-step min<max trick cannot chain:
    * step 3 must follow the step-2 EVENT, not just any click).
    *
    * Shape: the anchor of each step is the MIN qualifying timestamp,
    * so each step is one (user, session)-keyed aggregation joined to
    * the previous step's bounded anchor relation — three
    * session-keyed equi joins after the ONE user-window session
    * assignment, no per-event pattern state, no window beyond q54's.
    * Min-anchoring makes the chain deterministic: ties at the same µs
    * do NOT convert (strict >), mirrored in the oracle. Output is the
    * one-row funnel with exact-micros conversion rates. */
  def funnelConversion(events: DataFrame,
      gap: java.time.Duration = java.time.Duration.ofMinutes(240)): DataFrame = {
    val (anchors, handles) = funnelAnchors(events, gap)
    val result = anchors
      .agg(count(lit(1)).as("n_sessions"),
        count(col("t1")).as("n_view"),
        count(col("t2")).as("n_view_click"),
        count(col("t3")).as("n_full"))
      .withColumn("conv_micros", expr("n_full * 1000000 div n_sessions"))
    graft.operators.Dedup.finishWith(result, handles: _*)
  }

  /** The chain shared by q243 (funnelConversion) and q253
    * (conversionLatency): per gap-session, the min-anchored step
    * timestamps — t1 = first view, t2 = first click strictly after
    * t1, t3 = first purchase strictly after t2 — LEFT-joined onto the
    * session universe so non-converting sessions survive with NULL
    * anchors. Four consumers (three step anchors + the universe) read
    * the session assignment: persist it ONCE (the q88 discipline —
    * Explain measured 7 scans / 14 windows in the unpersisted
    * form). Returns the anchor relation plus any persist handles the
    * caller must release via finishWith (lazy/plan-audit mode only;
    * the eager path checkpoints the memo leaf and releases its own).
    * The leaf is a session tower, so a suite run pays the pass ONCE
    * per (corpus, gap), not once per consumer; it is
    * session-population-sized (five narrow columns). */
  private def funnelAnchors(events: DataFrame,
      gap: java.time.Duration): (DataFrame, Seq[DataFrame]) = {
    def build(): (DataFrame, DataFrame) = {
      val sess = withSessionIds(events, gap)
        .withColumn("eus", tsMicros(events))
        .select("user_id", "sess_id", "event_type", "eus")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val s1 = sess.where(col("event_type") === "view")
        .groupBy("user_id", "sess_id").agg(min(col("eus")).as("t1"))
      val s2 = sess.where(col("event_type") === "click")
        .join(s1, Seq("user_id", "sess_id"))
        .where(col("eus") > col("t1"))
        .groupBy("user_id", "sess_id").agg(min(col("eus")).as("t2"))
      val s3 = sess.where(col("event_type") === "purchase")
        .join(s2, Seq("user_id", "sess_id"))
        .where(col("eus") > col("t2"))
        .groupBy("user_id", "sess_id").agg(min(col("eus")).as("t3"))
      val anchors = sess.select("user_id", "sess_id").distinct()
        .join(s1, Seq("user_id", "sess_id"), "left")
        .join(s2, Seq("user_id", "sess_id"), "left")
        .join(s3, Seq("user_id", "sess_id"), "left")
      (anchors, sess)
    }
    var handles: Seq[DataFrame] = Seq.empty
    val anchors = graft.tools.Memos.get("anchors", events, gap.toMillis)({
      val (a, sess) = build()
      try a.localCheckpoint(true) finally sess.unpersist()
    })({
      val (a, sess) = build()
      handles = Seq(sess)
      a
    })
    (anchors, handles)
  }

  /** q248 — per-user BEHAVIORAL entropy: Shannon entropy of each
    * user's event-type distribution — the diversity feature that
    * separates single-action accounts (bots, scrapers: H ≈ 0) from
    * organic mixed behavior, q187's vocabulary-entropy convention
    * applied at the user grain. Per-(user, type) terms floor-quantize
    * (c/t)·ln(c/t) at 1e-9 BEFORE the per-user sum (the shared
    * cross-engine ln fence), so the relation hash-matches exactly.
    * Shape: one (user, type) aggregation — type-vocabulary fan-out
    * per user, bounded — then the per-user fold; no windows, no
    * joins beyond the user-keyed totals. */
  def userEntropy(events: DataFrame): DataFrame = {
    val tc = events.groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("c"))
    val tot = tc.groupBy("user_id")
      .agg(sum(col("c")).as("t"), count(lit(1)).as("n_types"))
    tc.join(tot, "user_id")
      .withColumn("term_q",
        floor((col("c").cast("double") / col("t"))
          * log(col("c").cast("double") / col("t")) * 1e9).cast("long"))
      .groupBy("user_id")
      .agg(max(col("t")).as("n_events"), max(col("n_types")).as("n_types"),
        (-sum(col("term_q"))).as("entropy_q"))
      .orderBy("user_id")
  }

  /** q244 — HOPPING (sliding) window aggregation: 6-hour windows
    * every 3 hours, so each event lands in exactly
    * windowDuration/slide = 2 windows — the overlapping-window
    * semantics Structured Streaming's `window(ts, dur, slide)` gives
    * a stream, here as its batch twin (q63's `time_bucket` is the
    * tumbling special case). Spark plans the window assignment as a
    * row-local EXPLODE of the 2 covering windows followed by a plain
    * aggregation — cost 2× the tumbling query, never a range join.
    * The oracle replays the assignment arithmetically (window starts
    * are epoch-aligned: start = floor(ts/slide)·slide − k·slide,
    * k ∈ {0,1}), value sums ride as exact floor-micros. */
  def hoppingCounts(events: DataFrame): DataFrame =
    events
      .withColumn("v_q", floor(col("value") * 1e6).cast("long"))
      .groupBy(window(tsCol(events), "6 hours", "3 hours").as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("v_q")).as("sum_v_q"))
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH").as("win_start"),
        col("event_type"), col("n"), col("sum_v_q"))
      .orderBy("win_start", "event_type")

  /** q245 — session-relative event features: for every event, its
    * session id, 1-based position in the session, µs since the
    * session started, and µs since the previous event — the
    * behavioral features a sequence model or anomaly gate consumes
    * (position and recency inside a visit, not absolute time). All
    * four ride the SAME (user)-keyed exchange as q54's session
    * assignment plus one (user, session) window — no joins at all;
    * output is event-sized, deterministic by the (ts, event_id)
    * tiebreak. */
  def sessionFeatures(events: DataFrame,
      gap: java.time.Duration = java.time.Duration.ofMinutes(240)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sess = withSessionIds(events, gap)
      .withColumn("eus", tsMicros(events))
    val w = Window.partitionBy("user_id", "sess_id")
      .orderBy(col("eus").asc, col("event_id").asc)
    sess
      .withColumn("idx_in_sess", row_number().over(w))
      .withColumn("us_into_sess", col("eus") - min(col("eus")).over(w))
      .withColumn("us_since_prev",
        col("eus") - lag(col("eus"), 1).over(w))
      .select("user_id", "event_id", "sess_id", "idx_in_sess",
        "us_into_sess", "us_since_prev")
      .orderBy("user_id", "event_id")
  }

  /** q253 — TIME-TO-CONVERT: for q243's fully converting sessions,
    * the view→purchase latency distribution — the funnel's companion
    * metric (a conversion rate without its latency hides a broken
    * checkout that users eventually survive). Latency = t3 − t1 (the
    * min-anchored step timestamps, q243's exact chain), binned to
    * whole seconds; count / exact-µs mean / p50 / p90 ride the
    * q129/q148 bounded-histogram boundary rule (min bin with
    * 100·cum ≥ p·n) — latencies are session-bounded, so the
    * histogram axis is bounded by the gap parameter, never the
    * corpus. One extra aggregation over q243's anchor relations;
    * mean_us is an exact floor division. */
  def conversionLatency(events: DataFrame,
      gap: java.time.Duration = java.time.Duration.ofMinutes(240)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (anchors, handles) = funnelAnchors(events, gap)
    val lat = anchors.where(col("t3").isNotNull)
      .select((col("t3") - col("t1")).as("lat_us"))
      .withColumn("bin", expr("lat_us div 1000000"))
    val hist = lat.groupBy("bin").agg(count(lit(1)).as("cnt"),
      sum(col("lat_us")).as("sum_us"))
    val w = Window.orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def pick(p: Int) =
      min(when(col("cum") * 100 >= col("n") * p, col("bin"))).as(s"p${p}_s")
    val result = hist.withColumn("cum", sum(col("cnt")).over(w))
      .withColumn("n", sum(col("cnt")).over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("tot_us", sum(col("sum_us")).over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .groupBy("n", "tot_us")
      .agg(pick(50), pick(90))
      .select(col("n").as("n_conversions"),
        expr("tot_us div n").as("mean_us"), col("p50_s"), col("p90_s"))
    graft.operators.Dedup.finishWith(result, handles: _*)
  }

  /** q232 — retry/replay collapse over the event log: an event is a
    * DUP of its immediate predecessor when the previous event of the
    * same (user, type) key arrived within `windowSec` — the
    * impression/click/telemetry dedup every ingest runs before events
    * feed counts (client retries and at-least-once delivery otherwise
    * inflate every downstream metric). CHAIN semantics, stated
    * deliberately: each event compares to its immediate predecessor,
    * so a burst A-B-C with gaps ≤ window marks B and C both dup even
    * if C−A exceeds the window — the collapse-consecutive-retries
    * rule (the alternative, compare-to-last-KEPT, is inherently
    * sequential state; this form is one window function).
    *
    * Shape: ONE shuffle on (user_id, event_type) for the lag window —
    * user-keyed partitions, millions of tiny groups, no stratum-sized
    * task anywhere — then the bounded per-type rollup.
    * Ties (same µs timestamp) break by event_id, so the verdict is
    * deterministic on any engine and partitioning; timestamps cross
    * the oracle boundary at µs (the tsMicros contract). */
  def eventDedup(events: DataFrame, windowSec: Long = 60L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id", "event_type")
      .orderBy("eus", "event_id")
    events
      .withColumn("eus", tsMicros(events))
      .withColumn("prev", lag(col("eus"), 1).over(w))
      .withColumn("is_dup", col("prev").isNotNull &&
        col("eus") - col("prev") <= lit(windowSec * 1000000L))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(col("is_dup").cast("long")).as("n_dups"))
      .withColumn("dup_rate_micros",
        expr("n_dups * 1000000 div n_events"))
      .orderBy("event_type")
  }
}
