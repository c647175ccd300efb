package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.TextFns

/** Relational surface over the TPC-H-ish testdata (SURVEY §2.C q07–q15).
  * The reference has no joins/windows/rollups (verified absence, SURVEY
  * §2.B); these are declared to make the engine a general analytics
  * surface. All built-in, codegen'd expressions; Catalyst handles
  * pushdown/pruning, and every small dimension join is explicitly
  * broadcast so no plan here shuffles a dimension at 100 TB.
  *
  * Determinism-for-oracle rules (SURVEY §2.C): total ORDER BY; money
  * aggregates go through DECIMAL so the sum is exact and independent of
  * partial-aggregation order, then back to DOUBLE; averages are
  * exact-sum / count in DOUBLE; timestamps leave as 'yyyy-MM-dd'
  * strings.
  */
object Relational {

  private def money(c: org.apache.spark.sql.Column) = c.cast("decimal(18,2)")

  /** Exact, order-independent sum of a 2-dp money column, as DOUBLE. */
  private def sumMoney(c: org.apache.spark.sql.Column) =
    sum(money(c)).cast("double")

  private def avgMoney(c: org.apache.spark.sql.Column) =
    round(sum(money(c)).cast("double") / count(lit(1)), 2)

  /** The TPC-H discounted line revenue, DECIMAL(18,4)-exact — the ONE
    * definition q07/q08/q75/q77 and their oracles all share (`CAST(
    * l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))`); a
    * precision change must happen here and in the oracle SQL together.
    */
  private def lineRevenue =
    (col("l_extendedprice") * (lit(1) - col("l_discount"))).cast("decimal(18,4)")

  /** q07 — scan + filter + project with arithmetic. The shipdate range
    * and discount predicates are pushed into the parquet scan; only the
    * four projected columns are read. */
  def scanFilterProject(lineitem: DataFrame): DataFrame =
    lineitem
      .where(col("l_shipdate") >= lit("1996-01-01") &&
        col("l_shipdate") < lit("1997-01-01") &&
        col("l_discount") > 0.05)
      .select(
        col("l_orderkey"),
        col("l_linenumber").cast("long").as("l_linenumber"),
        lineRevenue.cast("double").as("revenue"),
        date_format(col("l_shipdate"), "yyyy-MM-dd").as("ship_date"))
      .orderBy("l_orderkey", "l_linenumber")

  /** q08 — TPC-H Q1-style grouped aggregation. Partial (map-side)
    * aggregation + final merge is the reference's R8→R11 two-phase
    * shape, provided automatically by HashAggregateExec. */
  def aggGroupBy(lineitem: DataFrame): DataFrame =
    lineitem
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sumMoney(col("l_quantity")).as("sum_qty"),
        sumMoney(col("l_extendedprice")).as("sum_base_price"),
        sum(lineRevenue).cast("double").as("sum_disc_price"),
        avgMoney(col("l_quantity")).as("avg_qty"),
        avgMoney(col("l_extendedprice")).as("avg_price"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** The TPC-H charge term `extprice·(1−disc)·(1+tax)` — exactly 6
    * decimal places (2+2+2), so DECIMAL(22,6) captures it exactly; both
    * engines compute the same IEEE double product (same association)
    * and round to the same 6-dp value, making the sum order-independent
    * and cross-engine exact (the lineRevenue argument, one scale up). */
  private def lineCharge =
    (col("l_extendedprice") * (lit(1) - col("l_discount")) *
      (lit(1) + col("l_tax"))).cast("decimal(22,6)")

  /** q163 — TPC-H Q1 EXACT shape (q08 is the "-style" twin without the
    * shipdate cutoff, the tax term, or the full measure list): one
    * map-side-combinable aggregation pass producing all eight measures,
    * the pushed shipdate predicate, and the canonical 4-group output.
    * Averages are derived sum/count (round 6) so every measure rides
    * ONE HashAggregate — Spark computes avg the same way, and the
    * oracle states the identical derivation. */
  def tpchQ1(lineitem: DataFrame): DataFrame =
    lineitem
      .where(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sumMoney(col("l_quantity")).as("sum_qty"),
        sumMoney(col("l_extendedprice")).as("sum_base_price"),
        sum(lineRevenue).cast("double").as("sum_disc_price"),
        sum(lineCharge).cast("double").as("sum_charge"),
        round(sum(money(col("l_quantity"))).cast("double") / count(lit(1)), 6)
          .as("avg_qty"),
        round(sum(money(col("l_extendedprice"))).cast("double") / count(lit(1)), 6)
          .as("avg_price"),
        round(sum(money(col("l_discount"))).cast("double") / count(lit(1)), 6)
          .as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** q164 — TPC-H Q4 EXACT shape (q73 is the "-style" twin without the
    * order-date quarter window): the date-bounded EXISTS through SQL
    * text, decorrelated by Catalyst to a left-SEMI join on the
    * correlation key with the inner predicate pushed below the join
    * (TpchShapeSpec pins the plan). The real Q4's
    * `l_commitdate < l_receiptdate` inner predicate maps to
    * `l_discount > l_tax` — this schema carries no commit/receipt
    * dates, and the structural point is the same: an inner-relation
    * two-COLUMN comparison (not a constant filter) that must be
    * evaluated below the semi join, never per outer row. */
  def tpchQ4(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val spark = orders.sparkSession
    orders.createOrReplaceTempView("graft_orders_q4")
    lineitem.createOrReplaceTempView("graft_lineitem_q4")
    spark.sql(
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM graft_orders_q4 o
        |WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM graft_lineitem_q4 l
        |              WHERE l.l_orderkey = o.o_orderkey
        |                AND l.l_discount > l.l_tax)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin)
  }

  /** q09 — star join: fact⋈dim⋈dim with both dimensions broadcast
    * (region: 5 rows, nation: 25 — never worth a shuffle at any scale). */
  def joinBroadcast(customer: DataFrame, nation: DataFrame, region: DataFrame): DataFrame =
    customer
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .where(col("r_name") === "ASIA")
      .groupBy("n_name")
      .agg(
        count(lit(1)).as("n_cust"),
        sumMoney(col("c_acctbal")).as("sum_bal"))
      .orderBy("n_name")

  /** q10 — semi/anti join: customers with vs without orders. The semi
    * join is the idiomatic EXISTS; at scale both sides shuffle on
    * custkey once and nothing is materialized. */
  def joinSemiAnti(customer: DataFrame, orders: DataFrame): DataFrame = {
    val o = orders.select("o_custkey")
    val withO = customer.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
      .agg(count(lit(1)).as("n")).withColumn("kind", lit("with_orders"))
    val withoutO = customer.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      .agg(count(lit(1)).as("n")).withColumn("kind", lit("without_orders"))
    withO.unionByName(withoutO).select("kind", "n").orderBy("kind")
  }

  /** q11 — running sum per customer (window, ROWS frame). The window
    * orderBy carries o_orderkey as tiebreak so peer order — and thus the
    * running value — is deterministic. */
  def windowRunning(orders: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    orders.select(
        col("o_custkey"),
        col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
        round(sum(money(col("o_totalprice"))).over(w).cast("double"), 2)
          .as("running"))
      .orderBy("o_custkey", "o_orderkey")
  }

  /** q12 — ROLLUP grouping sets. Subtotal NULLs are coalesced to 'ALL'
    * so Spark/DuckDB null-ordering differences cannot bite. */
  def rollupAgg(orders: DataFrame): DataFrame =
    orders
      .rollup("o_orderstatus", "o_orderpriority")
      .agg(
        count(lit(1)).as("n_orders"),
        sumMoney(col("o_totalprice")).as("sum_price"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n_orders"), col("sum_price"))
      .orderBy("status", "priority")

  /** q32 — CUBE grouping sets (all four combinations, vs rollup's
    * prefix chain). Same subtotal-NULL coalescing as q12. */
  def cubeAgg(orders: DataFrame): DataFrame =
    orders
      .cube("o_orderstatus", "o_orderpriority")
      .agg(
        count(lit(1)).as("n_orders"),
        sumMoney(col("o_totalprice")).as("sum_price"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n_orders"), col("sum_price"))
      .orderBy("status", "priority")

  /** q47 — PIVOT: priorities become columns, one row per status. The
    * pivot value list is DECLARED (the five TPC-H priorities), which is
    * the scale-safe form — `pivot(col)` without values runs an extra
    * distinct-collect job over 100 TB to discover them; with the list
    * the whole pivot compiles to one aggregation of conditional
    * counts, a single shuffle. */
  def pivotAgg(orders: DataFrame): DataFrame = {
    val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    orders
      .groupBy("o_orderstatus")
      .pivot("o_orderpriority", priorities)
      .agg(count(lit(1)))
      .select(col("o_orderstatus").as("status") +:
        priorities.zipWithIndex.map { case (p, i) =>
          coalesce(col(p), lit(0L)).as(s"p${i + 1}")
        }: _*)
      .orderBy("status")
  }

  /** q48 — UNPIVOT (melt): wide → long, the inverse of q47. A pure
    * narrow transform — each input row expands to five output rows
    * with no shuffle (the Expand operator), so it costs one map pass
    * at any scale. */
  def unpivotAgg(orders: DataFrame): DataFrame =
    pivotAgg(orders)
      .unpivot(
        Array(col("status")),
        (1 to 5).map(i => col(s"p$i")).toArray,
        "priority_slot", "n_orders")
      .orderBy("status", "priority_slot")

  /** q13 — global top-k: orderBy + limit. Spark plans this as
    * TakeOrderedAndProject — per-partition top-k then a k-row merge on
    * the driver, never a full sort of 100 TB. */
  def sortLimit(orders: DataFrame, k: Int): DataFrame =
    orders
      .select("o_orderkey", "o_totalprice", "o_orderstatus")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(k)

  /** q14 — exact distinct count per group (expands to a two-phase
    * distinct aggregate; exact rather than HLL so the oracle can
    * hash-match). */
  def distinctCount(lineitem: DataFrame): DataFrame =
    lineitem
      .groupBy("l_returnflag")
      .agg(countDistinct(col("l_partkey")).as("n_parts"))
      .orderBy("l_returnflag")

  /** q15 — set algebra: union + distinct over customer/supplier nation
    * keys. */
  def setUnion(customer: DataFrame, supplier: DataFrame): DataFrame =
    customer.select(col("c_nationkey").as("nationkey"))
      .unionByName(supplier.select(col("s_nationkey").as("nationkey")))
      .distinct()
      .orderBy("nationkey")

  /** q35 — the remaining set verbs: `intersect` and `except` as
    * DataFrame operations (planned as left-semi/anti under distinct). */
  def setIntersectExcept(customer: DataFrame, supplier: DataFrame): DataFrame = {
    val c = customer.select(col("c_nationkey").as("nationkey"))
    val s = supplier.select(col("s_nationkey").as("nationkey"))
    c.intersect(s).withColumn("kind", lit("both"))
      .unionByName(c.except(s).withColumn("kind", lit("customer_only")))
      .select("kind", "nationkey")
      .orderBy("kind", "nationkey")
  }

  /** q67 — multiset set algebra: `INTERSECT ALL` / `EXCEPT ALL`
    * (bag semantics — each nation key keeps its multiplicity, vs
    * q35's distinct set verbs). Spark plans these as count-annotated
    * joins (one shuffle per side, no distinct pre-pass); the summary
    * aggregation makes multiplicities visible and deterministic. */
  def setAllOps(customer: DataFrame, supplier: DataFrame): DataFrame = {
    val c = customer.select(col("c_nationkey").as("nationkey"))
    val s = supplier.select(col("s_nationkey").as("nationkey"))
    c.intersectAll(s).withColumn("kind", lit("intersect_all"))
      .unionByName(c.exceptAll(s).withColumn("kind", lit("except_all")))
      .groupBy("kind", "nationkey")
      .agg(count(lit(1)).as("n"))
      .orderBy("kind", "nationkey")
  }

  /** q64 — per-group argmax WITHOUT a window sort: `max(struct(value,
    * tiebreak))` rides the ordinary aggregation path — one shuffle with
    * map-side partials and no per-group ordering, the shape that wins
    * at 100 TB over the row_number() formulation (which must sort every
    * group). Struct comparison is lexicographic, so the event_id
    * tiebreak is deterministic; the oracle states the same pick as a
    * window (value DESC, event_id DESC → rank 1). */
  def argmaxPerGroup(events: DataFrame): DataFrame =
    events
      .groupBy("event_type")
      .agg(max(struct(col("value"), col("event_id"))).as("m"))
      .select(col("event_type"),
        col("m.event_id").as("top_event_id"),
        col("m.value").as("top_value"))
      .orderBy("event_type")

  /** q42 — theta join: equi key + range residual (`l_shipdate >
    * o_orderdate`). Planned as a hash join on the equi key with the
    * range predicate evaluated as a residual — never a cartesian. */
  def thetaJoin(lineitem: DataFrame, orders: DataFrame): DataFrame =
    lineitem
      .join(orders,
        col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate"))
      .groupBy("o_orderstatus")
      .agg(
        count(lit(1)).as("n_lines"),
        sumMoney(col("l_extendedprice")).as("sum_price"))
      .orderBy("o_orderstatus")

  /** q39 — approximate distinct counting (HyperLogLog++) beside the
    * exact count: the sketch path for 100 TB cardinalities where exact
    * distinct is a full shuffle of the key set. No DuckDB oracle — HLL
    * implementations differ across engines by design; ScalaTest bounds
    * the relative error against the exact count instead. */
  def approxDistinct(lineitem: DataFrame): DataFrame =
    lineitem
      .groupBy("l_returnflag")
      .agg(
        countDistinct(col("l_partkey")).as("n_exact"),
        approx_count_distinct(col("l_partkey"), 0.02).as("n_approx"))
      .orderBy("l_returnflag")

  /** q40 — exact median (continuous-interpolation percentile): both
    * engines sort and interpolate at (n−1)·p with the same formula. */
  def medianValue(events: DataFrame): DataFrame =
    events
      .groupBy("event_type")
      .agg(percentile(col("value"), lit(0.5)).as("median_value"))
      .orderBy("event_type")

  /** q51 — quantile profile: the full percentile ladder per group in
    * ONE aggregation pass (each exact continuous-interpolation
    * percentile rides the same sorted state; one shuffle total). */
  def quantileProfile(events: DataFrame): DataFrame =
    events
      .groupBy("event_type")
      .agg(
        percentile(col("value"), lit(0.25)).as("p25"),
        percentile(col("value"), lit(0.5)).as("p50"),
        percentile(col("value"), lit(0.75)).as("p75"),
        percentile(col("value"), lit(0.95)).as("p95"))
      .orderBy("event_type")

  /** q52 — correlation from exact DECIMAL power sums. Spark's `corr`
    * (and DuckDB's) accumulates doubles in partition order —
    * nondeterministic across engines AND across partitionings. The
    * scale-correct form sums the five power sums as DECIMAL (exact,
    * order-independent, still one aggregation pass) and assembles
    * Pearson's r in float only at the end, per group: deterministic at
    * any cluster size. */
  def corrStats(lineitem: DataFrame): DataFrame = {
    val d = (c: org.apache.spark.sql.Column) => c.cast("double")
    lineitem
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(20,2)")).as("sx"),
        sum(col("l_extendedprice").cast("decimal(20,2)")).as("sy"),
        sum((col("l_quantity") * col("l_extendedprice")).cast("decimal(38,6)")).as("sxy"),
        sum((col("l_quantity") * col("l_quantity")).cast("decimal(38,6)")).as("sx2"),
        sum((col("l_extendedprice") * col("l_extendedprice")).cast("decimal(38,6)")).as("sy2"))
      .select(col("l_returnflag"), col("n"),
        round(
          (d(col("sxy")) * col("n") - d(col("sx")) * d(col("sy"))) /
            (sqrt(d(col("sx2")) * col("n") - d(col("sx")) * d(col("sx"))) *
             sqrt(d(col("sy2")) * col("n") - d(col("sy")) * d(col("sy")))),
          6).as("corr_qty_price"))
      .orderBy("l_returnflag")
  }

  /** q55 — LISTAGG/string_agg: ordered string concatenation per group.
    * Spark spells it collect_list → array_sort → array_join (one
    * aggregation; the sort makes it deterministic — bare
    * `collect_list` order is partition-dependent and NOT portable). */
  def stringAgg(customer: DataFrame): DataFrame =
    customer
      .groupBy("c_nationkey")
      .agg(
        count(lit(1)).as("n"),
        array_join(array_sort(collect_list(col("c_name"))), ",").as("names"))
      .orderBy("c_nationkey")

  /** q56 — ranking-function ladder: ntile/percent_rank/cume_dist over
    * one window (single exchange). Tie-broken by event_id so every
    * rank function is deterministic. */
  def rankLadder(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("value").asc, col("event_id").asc)
    events
      .select(col("event_type"), col("event_id"), col("value"),
        ntile(4).over(w).cast("long").as("quartile"),
        round(percent_rank().over(w), 6).as("pct_rank"),
        round(cume_dist().over(w), 6).as("cume"))
      .orderBy("event_type", "event_id")
  }

  /** q57 — scalar subquery through the SQL TEXT entry point: events
    * above the global mean, per type. Exercises the `spark.sql` surface
    * (temp view + subquery planning: Catalyst executes the scalar
    * subquery once and broadcasts the single value into the filter —
    * no per-row re-evaluation). The mean is an exact DECIMAL sum over
    * COUNT in DOUBLE so both engines compute the identical threshold. */
  def scalarSubquery(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    events.createOrReplaceTempView("graft_events_v")
    spark.sql(
      """SELECT event_type, count(*) AS n_above
        |FROM graft_events_v
        |WHERE value > (SELECT CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*)
        |               FROM graft_events_v)
        |GROUP BY event_type ORDER BY event_type""".stripMargin)
  }

  /** q72 — explicit GROUPING SETS through the `spark.sql` text surface
    * (beside q12's ROLLUP and q32's CUBE): independent per-status and
    * per-priority totals out of ONE scan via the Expand operator —
    * the declarative form of "two group-bys for the price of one". */
  def groupingSetsAgg(orders: DataFrame): DataFrame = {
    val spark = orders.sparkSession
    orders.createOrReplaceTempView("graft_orders_gs")
    spark.sql(
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        |       coalesce(o_orderpriority, 'ALL') AS priority,
        |       count(*) AS n_orders,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM graft_orders_gs
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        |ORDER BY status, priority""".stripMargin)
  }

  /** q73 — correlated EXISTS subquery through the `spark.sql` text
    * surface (TPC-H Q4 shape). Catalyst decorrelates it into a
    * left-semi join on the correlation key with the inner predicate
    * pushed below — the same plan q10's DataFrame semi join produces,
    * arrived at from SQL. */
  def existsSubquery(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val spark = orders.sparkSession
    orders.createOrReplaceTempView("graft_orders_ex")
    lineitem.createOrReplaceTempView("graft_lineitem_ex")
    spark.sql(
      """SELECT o_orderpriority, count(*) AS n_orders
        |FROM graft_orders_ex o
        |WHERE EXISTS (SELECT 1 FROM graft_lineitem_ex l
        |              WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
  }

  /** q110 — TPC-H Q21 shape on the slim schema: the DOUBLE-correlated
    * subquery pattern — EXISTS and NOT EXISTS over the SAME fact table,
    * both correlated on the outer row's order key ("suppliers who were
    * the ONLY one to return goods on a failed multi-supplier order").
    * The hardest decorrelation case in the TPC-H suite: Catalyst
    * rewrites the EXISTS to a left-semi and the NOT EXISTS to a
    * left-anti join on (orderkey + the supp inequality residual), so
    * the fact table is scanned three times but NEVER nested-loop
    * re-executed per outer row. (The real Q21's receipt/commit-date
    * predicate maps to the returnflag here — the testdata schema
    * carries no receipt dates; the join/decorrelation structure is the
    * point.) Counts per supplier, TakeOrdered top-k. */
  def tpchQ21(supplier: DataFrame, orders: DataFrame, lineitem: DataFrame,
      k: Int = 20): DataFrame = {
    val spark = supplier.sparkSession
    supplier.createOrReplaceTempView("graft_supplier_q21")
    orders.createOrReplaceTempView("graft_orders_q21")
    lineitem.createOrReplaceTempView("graft_lineitem_q21")
    spark.sql(
      s"""SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
         |FROM graft_lineitem_q21 l1
         |JOIN graft_orders_q21 o ON o.o_orderkey = l1.l_orderkey AND o.o_orderstatus = 'F'
         |JOIN graft_supplier_q21 s ON s.s_suppkey = l1.l_suppkey
         |WHERE l1.l_returnflag = 'R'
         |  AND EXISTS (SELECT 1 FROM graft_lineitem_q21 l2
         |              WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
         |  AND NOT EXISTS (SELECT 1 FROM graft_lineitem_q21 l3
         |                  WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
         |                    AND l3.l_returnflag = 'R')
         |GROUP BY s.s_name
         |ORDER BY numwait DESC, s_name LIMIT $k""".stripMargin)
  }

  /** q74 — frame-wide window navigation: first_value / last_value /
    * nth_value over an UNBOUNDED-both-ways frame (vs q33's lag/lead
    * row offsets and q56's rank ladder). One shuffle + one sort per
    * partition key; total order (value, event_id) makes every
    * navigation value deterministic. */
  def windowNav(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("value").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    events.select(col("event_type"), col("event_id"), col("value"),
        first(col("value")).over(w).as("first_v"),
        last(col("value")).over(w).as("last_v"),
        nth_value(col("value"), 2).over(w).as("second_v"))
      .orderBy("event_type", "event_id")
  }

  /** q75 — TPC-H Q3 shape: the canonical 3-table analytic join
    * (selective dimension filter → fact join → grouped revenue →
    * global top-k). The mktsegment filter prunes customer BEFORE the
    * join (pushed to its scan). The customer side is deliberately
    * UNHINTED — filtered TPC-H customer grows with the corpus, unlike
    * q77's bounded part dimension, so a forced broadcast would be the
    * unbounded-broadcast anti-pattern; AQE promotes it at runtime when
    * it actually fits (it does at testdata scale) and a 100 TB run
    * correctly shuffles both sides on the join key. The revenue sum
    * rides DECIMAL, and the top-k is a TakeOrdered — no global sort.
    * Deterministic ties via (order_date, l_orderkey). */
  def tpchQ3(customer: DataFrame, orders: DataFrame, lineitem: DataFrame,
      k: Int = 10): DataFrame =
    customer.where(col("c_mktsegment") === "BUILDING")
      .join(orders, col("c_custkey") === col("o_custkey"))
      .where(col("o_orderdate") < lit("1995-03-15").cast("timestamp"))
      .join(lineitem, col("l_orderkey") === col("o_orderkey"))
      .where(col("l_shipdate") > lit("1995-03-15").cast("timestamp"))
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg(sum(lineRevenue).cast("double").as("revenue"))
      .select(col("l_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
        col("revenue"))
      .orderBy(col("revenue").desc, col("order_date"), col("l_orderkey"))
      .limit(k)

  /** q108 — TPC-H Q18 shape (large-volume customers): the HAVING-gated
    * aggregate-then-join pattern the suite lacked. The lineitem
    * aggregation runs FIRST and its `sum_qty > threshold` gate
    * (SQL HAVING) shrinks the fact side to the rare big orders BEFORE
    * any join — at 100 TB the filter is the plan: orders/customer join
    * a relation that is orders×selectivity, not orders. Quantities are
    * integral doubles in the data; casting to LONG before the sum makes
    * the aggregate an exact integer (partitioning- and
    * engine-invariant) where a double sum would be order-dependent.
    * Top-k via TakeOrdered; deterministic ties on o_orderkey. */
  def tpchQ18(customer: DataFrame, orders: DataFrame, lineitem: DataFrame,
      threshold: Long = 150, k: Int = 20): DataFrame =
    lineitem.groupBy("l_orderkey")
      .agg(sum(col("l_quantity").cast("long")).as("sum_qty"))
      .where(col("sum_qty") > threshold)
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(customer, col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
        col("o_totalprice").as("total_price"), col("sum_qty"))
      .orderBy(col("total_price").desc, col("o_orderkey").asc)
      .limit(k)

  /** q100 — TPC-H Q5 shape: the 6-table join graph (region → nation →
    * {customer, supplier} → orders → lineitem) with the
    * co-nationality constraint (customer and supplier in the SAME
    * nation) — the classic join-ordering stress test. The two
    * dimension hops are explicitly `broadcast` (region is 1 row
    * filtered, nation ≤ 25 — bounded by the data model, not the
    * corpus); the fact joins (orders ⋈ lineitem ⋈ supplier) shuffle
    * on their keys. The date filter lands on the orders SCAN before
    * the fact join; revenue rides the shared DECIMAL definition.
    * Per-nation output rows ⇒ no top-k needed; deterministic order by
    * revenue DESC, n_name. */
  def tpchQ5(region: DataFrame, nation: DataFrame, customer: DataFrame,
      supplier: DataFrame, orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val asiaNations = broadcast(
      nation.join(broadcast(region.where(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name")))
    customer.join(asiaNations, col("c_nationkey") === col("n_nationkey"))
      .join(orders, col("o_custkey") === col("c_custkey"))
      .where(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      .join(lineitem, col("l_orderkey") === col("o_orderkey"))
      .join(supplier, col("l_suppkey") === col("s_suppkey") &&
        col("s_nationkey") === col("c_nationkey"))
      .groupBy(col("n_name"))
      .agg(sum(lineRevenue).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** q76 — CORRELATED scalar subquery (per-user mean, vs q57's
    * uncorrelated one) through the `spark.sql` surface: Catalyst
    * decorrelates it into a per-user aggregate joined back on the
    * correlation key — one extra shuffle, never a per-row subquery
    * execution. The mean routes through DECIMAL on both engines. */
  def correlatedScalar(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    events.createOrReplaceTempView("graft_events_cs")
    spark.sql(
      """SELECT e.event_type, count(*) AS n_above_user_mean
        |FROM graft_events_cs e
        |WHERE e.value > (SELECT CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*)
        |                 FROM graft_events_cs e2 WHERE e2.user_id = e.user_id)
        |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin)
  }

  /** q77 — TPC-H Q14 shape over the `part` dimension: fact⋈dim on
    * partkey with CONDITIONAL aggregation (promo revenue share per
    * brand). The part table is a classic broadcast dimension; the
    * conditional sum rides DECIMAL inside a CASE so promo and total
    * revenue are both order-independent exact. */
  def promoRevenue(lineitem: DataFrame, part: DataFrame): DataFrame =
    lineitem
      .join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .withColumn("rev", lineRevenue)
      .groupBy("p_brand")
      .agg(
        count(lit(1)).as("n_lines"),
        sum(col("rev")).cast("double").as("revenue"),
        sum(when(col("p_type").like("PROMO%"), col("rev"))
          .otherwise(lit(0).cast("decimal(18,4)"))).cast("double").as("promo_revenue"))
      .orderBy("p_brand")

  /** q81 — FULL OUTER join (the one join type the surface lacked):
    * nation presence across customer and supplier with explicit
    * null-extension handling — keys live on either side, both, or
    * neither, and the key/count columns coalesce identically on both
    * engines. Joining two pre-aggregated relations keeps the outer
    * join's inputs one-row-per-key, so the join itself is one shuffle
    * of two tiny sides at any scale. */
  def fullOuterPresence(customer: DataFrame, supplier: DataFrame): DataFrame = {
    val c = customer.groupBy(col("c_nationkey").as("ck"))
      .agg(count(lit(1)).as("n_cust"))
    val s = supplier.groupBy(col("s_nationkey").as("sk"))
      .agg(count(lit(1)).as("n_supp"))
    c.join(s, col("ck") === col("sk"), "full_outer")
      .select(
        coalesce(col("ck"), col("sk")).as("nationkey"),
        coalesce(col("n_cust"), lit(0L)).as("n_cust"),
        coalesce(col("n_supp"), lit(0L)).as("n_supp"),
        when(col("ck").isNull, lit("supplier_only"))
          .when(col("sk").isNull, lit("customer_only"))
          .otherwise(lit("both")).as("kind"))
      .orderBy("nationkey")
  }

  /** q113 — TPC-H Q17 shape: "small-quantity" lines, where small means
    * below a fifth of the PART's own average quantity — the classic
    * correlated-average subquery, written directly in its decorrelated
    * form: one per-part aggregate (map-side combinable), joined back to
    * the fact on the same key (both sides shuffle-partitioned on
    * l_partkey — co-located, no second shuffle for the probe side
    * under AQE), then a broadcast-able dimension hop to part. The
    * threshold compare is INTEGER-exact: q < qsum/(5·n) ⇔ 5·q·n < qsum
    * (quantities are integral), so both engines gate identically —
    * a double 0.2·avg would be ULP-sensitive at the boundary. */
  def tpchQ17(lineitem: DataFrame, part: DataFrame): DataFrame = {
    val stats = lineitem.groupBy("l_partkey").agg(
      sum(col("l_quantity").cast("long")).as("qsum"),
      count(lit(1)).as("qn"))
    lineitem
      .join(stats, Seq("l_partkey"))
      .where(col("l_quantity").cast("long") * lit(5L) * col("qn") < col("qsum"))
      .join(broadcast(part.select("p_partkey", "p_brand")),
        col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n_small"),
        sumMoney(col("l_extendedprice")).as("sum_price"))
      .orderBy("p_brand")
  }

  /** q114 — TPC-H Q22 shape: "rich but inactive" customers — above the
    * GLOBAL positive-balance average yet with no RECENT order (every
    * testdata customer has SOME order, so the real Q22's "no orders
    * ever" anti join would be vacuously empty; the date-restricted
    * variant keeps the identical plan shape non-vacuous) — grouped by
    * nation. Three decorrelation patterns in one query: an
    * uncorrelated scalar aggregate (ONE-ROW broadcast, never a
    * per-row subquery), an anti join against the date-filtered orders
    * (the NOT EXISTS; the date predicate lands on the orders SCAN),
    * and the final rollup. The scalar gate is INTEGER-exact: bal >
    * sumc/nc ⇔ bal_cents·nc > sumc (balances in cents) — no
    * double-average boundary flakiness. Balance totals stay in cents
    * (BIGINT) end-to-end. */
  def tpchQ22(customer: DataFrame, orders: DataFrame,
      cutoff: String = "2000-01-01"): DataFrame = {
    val cents = round(col("c_acctbal") * 100).cast("long")
    val pos = customer.where(col("c_acctbal") > 0.0)
      .agg(sum(cents).as("sumc"), count(lit(1)).as("nc"))
    customer
      .crossJoin(broadcast(pos))
      .where(cents * col("nc") > col("sumc"))
      .join(orders.where(col("o_orderdate") >= lit(cutoff).cast("timestamp")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("numcust"), sum(cents).as("totacctbal_c"))
      .orderBy("c_nationkey")
  }

  /** q115 — TPC-H Q15 shape: top supplier(s) by revenue inside a
    * quarter window. The revenue "view" is one filtered aggregate
    * (the date predicate lands on the lineitem SCAN — PushedFilters —
    * before anything joins); its max is a ONE-ROW broadcast back onto
    * the view itself; the equality keeps ties like the real Q15.
    * Revenue rides the shared DECIMAL definition, so the sum — and
    * therefore the max-equality — is exact on both engines. */
  def tpchQ15(supplier: DataFrame, lineitem: DataFrame): DataFrame = {
    val rev = lineitem
      .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
      .groupBy("l_suppkey")
      .agg(sum(lineRevenue).as("total_rev"))
    rev.crossJoin(broadcast(rev.agg(max(col("total_rev")).as("max_rev"))))
      .where(col("total_rev") === col("max_rev"))
      .join(broadcast(supplier.select("s_suppkey", "s_name")),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        col("total_rev").cast("double").as("total_rev"))
      .orderBy("s_suppkey")
  }

  /** q121 — TPC-H Q7 shape (volume shipping): revenue flowing between
    * an ordered pair of trading nations, per (supp_nation, cust_nation,
    * ship year). The two one-row-per-key nation dims broadcast into
    * supplier and customer; the filtered supplier relation (two
    * nations' worth) broadcasts into lineitem, shrinking the fact side
    * BEFORE the two shuffle joins (orders on orderkey, customer on
    * custkey). The customer side stays a shuffle join on purpose — at
    * scale two nations of customers is ~8% of the table, far beyond
    * broadcast reach. The pair predicate keeps only the two cross
    * directions; revenue is the shared DECIMAL `lineRevenue`. */
  def tpchQ7(nation: DataFrame, customer: DataFrame, supplier: DataFrame,
      orders: DataFrame, lineitem: DataFrame,
      nationA: String = "NATION_1", nationB: String = "NATION_2"): DataFrame = {
    def nations(out: String) = broadcast(
      nation.where(col("n_name").isin(nationA, nationB))
        .select(col("n_nationkey").as(s"${out}_nk"), col("n_name").as(out)))
    val supp = broadcast(
      supplier.join(nations("supp_nation"),
          col("s_nationkey") === col("supp_nation_nk"))
        .select("s_suppkey", "supp_nation"))
    val cust = customer.join(nations("cust_nation"),
        col("c_nationkey") === col("cust_nation_nk"))
      .select("c_custkey", "cust_nation")
    lineitem
      .join(supp, col("l_suppkey") === col("s_suppkey"))
      .join(orders.select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .where((col("supp_nation") === nationA && col("cust_nation") === nationB) ||
        (col("supp_nation") === nationB && col("cust_nation") === nationA))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).as("l_year"))
      .agg(sum(lineRevenue).cast("double").as("revenue"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  /** q138 — TPC-H Q6 shape (forecast revenue change): the pure
    * scan-side aggregate — every predicate (date range, discount band,
    * quantity cap) pushes into the parquet scan, nothing joins, one
    * partial+final aggregation of DECIMAL `extendedprice·discount`.
    * The simplest query in the suite and the purest pushdown test. */
  def tpchQ6(lineitem: DataFrame): DataFrame =
    lineitem
      .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
        col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
        col("l_quantity") < 24)
      .agg(sum((col("l_extendedprice") * col("l_discount"))
        .cast("decimal(18,4)")).cast("double").as("revenue"))

  /** q139 — TPC-H Q8 shape (national market share): of the revenue an
    * ASIA-region customer base spends on PROMO-type parts, the share
    * supplied by one nation, per order year. Every dimension
    * (region→nation customer filter, PROMO part keys, supplier→nation
    * names) broadcasts; the fact table is pruned by the part broadcast
    * FIRST (PROMO ≈ 1/5 of parts), then shuffles on orderkey/custkey.
    * Share = exact DECIMAL sums divided in DOUBLE, rounded 6 dp (the
    * q92 convention — identical IEEE ops on both engines). */
  def tpchQ8(region: DataFrame, nation: DataFrame, customer: DataFrame,
      supplier: DataFrame, orders: DataFrame, lineitem: DataFrame,
      part: DataFrame, shareNation: String = "NATION_19"): DataFrame = {
    val asiaCust = customer
      .join(broadcast(nation.join(
          broadcast(region.where(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select("n_nationkey")),
        col("c_nationkey") === col("n_nationkey"))
      .select("c_custkey")
    val promoParts = broadcast(
      part.where(col("p_type") === "PROMO").select("p_partkey"))
    val suppNation = broadcast(
      supplier.join(broadcast(nation.select(
          col("n_nationkey").as("snk"), col("n_name").as("supp_nation"))),
        col("s_nationkey") === col("snk"))
      .select("s_suppkey", "supp_nation"))
    lineitem
      .join(promoParts, col("l_partkey") === col("p_partkey"))
      .join(suppNation, col("l_suppkey") === col("s_suppkey"))
      .join(orders.select("o_orderkey", "o_custkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .join(asiaCust, col("o_custkey") === col("c_custkey"), "left_semi")
      .groupBy(year(col("o_orderdate")).as("o_year"))
      .agg(
        sum(when(col("supp_nation") === shareNation, lineRevenue)
          .otherwise(lit(0).cast("decimal(18,4)"))).as("nation_rev"),
        sum(lineRevenue).as("total_rev"))
      .select(col("o_year"),
        round(col("nation_rev").cast("double") / col("total_rev").cast("double"), 6)
          .as("mkt_share"))
      .orderBy("o_year")
  }

  /** q143 — TPC-H Q19 shape (discounted revenue, DISJUNCTIVE predicate
    * blocks): three (brand, size-band, quantity-band) OR-alternatives
    * over the fact⋈part join. The interesting plan property: Catalyst
    * pushes the brand/size disjunction into the PART scan and the
    * quantity bounds (1 ≤ qty ≤ 30, implied by all three blocks) into
    * the LINEITEM scan, so both sides shrink before the join even
    * though no single conjunct filters alone — the spec asserts both
    * pushdowns. Part joins broadcast; one DECIMAL aggregation. */
  def tpchQ19(lineitem: DataFrame, part: DataFrame): DataFrame = {
    def block(brand: String, sizeMax: Int, qLo: Int, qHi: Int) =
      col("p_brand") === brand &&
        col("p_size").between(1, sizeMax) &&
        col("l_quantity").between(qLo, qHi)
    lineitem
      .join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .where(block("Brand#1", 15, 1, 11) || block("Brand#2", 25, 10, 20) ||
        block("Brand#3", 35, 20, 30))
      .agg(sum(lineRevenue).cast("double").as("revenue"),
        count(lit(1)).as("n_lines"))
  }

  /** q174 — correlated LATERAL subquery with ORDER BY + LIMIT: each
    * customer's top-k orders by price, expressed as the SQL-text
    * lateral join a migrating SQL user writes (the DataFrame twin is
    * q157's bounded aggregator; the window form is q04). The scale
    * property is in Spark's DECORRELATION: the per-row subquery plans
    * as ONE window (rank ≤ k) over a single orders shuffle + one join —
    * never an execute-subquery-per-customer loop and never a
    * cartesian expansion (spec pins no BroadcastNestedLoop/Cartesian in
    * the plan). Ties are impossible by construction (o_orderkey breaks
    * them), so the result is total-ordered and hash-gatable. */
  def lateralTopOrders(customer: DataFrame, orders: DataFrame,
      k: Int = 2): DataFrame = {
    val spark = customer.sparkSession
    customer.createOrReplaceTempView("graft_cust_lat")
    orders.createOrReplaceTempView("graft_ord_lat")
    spark.sql(
      s"""SELECT c.c_custkey, o.o_orderkey,
         |       CAST(o.o_totalprice AS DOUBLE) AS o_totalprice
         |FROM graft_cust_lat c,
         |LATERAL (SELECT o_orderkey, o_totalprice FROM graft_ord_lat
         |         WHERE o_custkey = c.c_custkey
         |         ORDER BY o_totalprice DESC, o_orderkey LIMIT $k) o
         |ORDER BY c.c_custkey, o.o_totalprice DESC, o.o_orderkey""".stripMargin)
  }

  /** q175 — RECURSIVE CTE (Spark 4's `WITH RECURSIVE`) driving a
    * GAP-FILLED time series: the month spine is generated by the
    * recursion from min to max order month, then LEFT JOIN brings in
    * revenue with empty months zero-filled — the canonical calendar-
    * fill an analytics engine must express (a missing month silently
    * disappearing from a windowed trend is the classic bug this op
    * exists to prevent). Scale: the recursion materializes ~tens of
    * MONTH rows (bounded by the date span, not the fact table); the
    * single real pass is the one monthly aggregation. The non-recursive
    * equivalent (`sequence()` + explode over the bounds) plans the
    * same join; the point here is the SQL-text recursion surface.
    *
    * The recursion CARRIES the upper bound as a spine column: the
    * anchor computes min AND max in one aggregation, and each
    * recursive step compares against its own `mx` — a bound stated as
    * a scalar subquery in the step predicate is re-evaluated every
    * iteration (one full fact scan per generated month: measured
    * 10.5 s vs 0.3 s at sf0.1 over ~84 months; at 100 TB it is the
    * difference between 2 fact passes and 86). */
  def recursiveMonthlyRevenue(orders: DataFrame): DataFrame = {
    val spark = orders.sparkSession
    orders.createOrReplaceTempView("graft_ord_rec")
    spark.sql(
      """WITH RECURSIVE months(m, mx) AS (
        |  SELECT date_trunc('MONTH', min(o_orderdate)),
        |         date_trunc('MONTH', max(o_orderdate))
        |  FROM graft_ord_rec
        |  UNION ALL
        |  SELECT m + INTERVAL '1' MONTH, mx FROM months
        |  WHERE m < mx
        |)
        |SELECT date_format(months.m, 'yyyy-MM') AS month,
        |       CAST(coalesce(sum(CAST(o.o_totalprice AS DECIMAL(18,2))),
        |                     CAST(0 AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |       CAST(count(o.o_orderkey) AS BIGINT) AS n_orders
        |FROM months LEFT JOIN graft_ord_rec o
        |  ON date_trunc('MONTH', o.o_orderdate) = months.m
        |GROUP BY months.m
        |ORDER BY months.m""".stripMargin)
  }

  /** q177 — SQL SCRIPTING (Spark 4 `BEGIN … END`, variables, WHILE):
    * the procedural bucket-capacity plan an operator writes by hand —
    * double the power-of-two bucket count until expected rows/bucket
    * falls under the target. The loop runs ON THE DRIVER over one
    * scalar (log₂(n/target) iterations); the corpus is read exactly
    * once, by the `count(*)` into the variable — scripting here is
    * control flow around queries, not row-at-a-time processing. The
    * oracle mirrors the EXACT doubling loop as a DuckDB recursive CTE
    * (a closed-form `2^⌈log₂⌉` would disagree at exact power-of-two
    * boundaries — floating point decides differently than the loop). */
  def scriptBucketPlan(events: DataFrame, target: Long = 1000L): DataFrame = {
    val spark = events.sparkSession
    events.createOrReplaceTempView("graft_ev_script")
    val saved = spark.conf.getOption("spark.sql.scripting.enabled")
    spark.conf.set("spark.sql.scripting.enabled", "true")
    try spark.sql(
      s"""BEGIN
         |  DECLARE n BIGINT;
         |  DECLARE b BIGINT DEFAULT 1;
         |  SET n = (SELECT count(*) FROM graft_ev_script);
         |  WHILE n / CAST(b AS DOUBLE) > $target DO
         |    SET b = b * 2;
         |  END WHILE;
         |  SELECT n AS n_events, b AS buckets,
         |         round(n / CAST(b AS DOUBLE), 3) AS avg_per_bucket;
         |END""".stripMargin)
    finally saved match {
      case Some(v) => spark.conf.set("spark.sql.scripting.enabled", v)
      case None => spark.conf.unset("spark.sql.scripting.enabled")
    }
  }

  /** q167 — TPC-H Q14 EXACT shape (promotion effect), completing the
    * 22/22 named-shape ledger: one shipdate month pushed into the
    * LINEITEM scan, part type broadcast to the fact side, promo share
    * = 100 · Σpromo-rev / Σrev with both sums exact DECIMAL and the
    * single division done in DOUBLE rounded 6 dp (the q92/q139
    * convention — identical IEEE ops on both engines). At 100 TB the
    * month predicate is the scan-pruner (≈1/80 of the fact table under
    * this corpus's date range) and PART broadcasts whole; the only
    * exchange is the one-partial-row-per-task single-partition merge
    * of the global aggregate. The real
    * Q14's `p_type LIKE 'PROMO%'` maps to equality on this schema's
    * categorical p_type. */
  def tpchQ14(lineitem: DataFrame, part: DataFrame): DataFrame =
    lineitem
      .where(col("l_shipdate") >= lit("1996-09-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-10-01").cast("timestamp"))
      .join(broadcast(part.select("p_partkey", "p_type")),
        col("l_partkey") === col("p_partkey"))
      .agg(
        sum(when(col("p_type") === "PROMO", lineRevenue)
          .otherwise(lit(0).cast("decimal(18,4)"))).as("promo_rev"),
        sum(lineRevenue).as("total_rev"))
      .select(round(lit(100d) * col("promo_rev").cast("double") /
        col("total_rev").cast("double"), 6).as("promo_revenue"))

  /** q144 — ROLLUP with `grouping_id()` exposed: the grouping-set
    * metadata function the q12/q32/q72 family left implicit. The
    * integer gid (bit per rolled-up column) ships alongside coalesced
    * labels, so consumers can distinguish a REAL 'ALL'-valued group
    * from a subtotal row — the reason grouping_id exists. One Expand +
    * one aggregation, identical to q12's plan. */
  def rollupGroupingId(orders: DataFrame): DataFrame =
    orders
      .rollup("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        grouping_id().cast("long").as("gid"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("gid"), col("n_orders"))
      .orderBy("gid", "status", "priority")

  /** q136 — CDC apply (the warehouse MERGE/upsert, composed from
    * relational primitives Spark has natively): a change feed of
    * updates / deletes / inserts applied to a base relation by ONE
    * full-outer join on the key — update rows override, delete rows
    * drop, insert rows null-extend in, untouched rows pass through
    * with op '='. One shuffle of each side on the merge key; at scale
    * the change feed is a sliver, so AQE demotes its side to a
    * broadcast automatically. The feed is DERIVED deterministically
    * from the base itself (keys %7 update +1.00, %11∖%7 delete, %13
    * insert at key+10¹² — precedence documented by the disjoint
    * predicates) so the oracle replays it exactly. */
  def cdcApply(orders: DataFrame): DataFrame = {
    val cents = round(col("o_totalprice") * 100).cast("long")
    val base = orders.select(col("o_orderkey").as("k"), cents.as("price_c"))
    val upd = base.where(col("k") % 7 === 0)
      .select(col("k"), (col("price_c") + 100L).as("new_c"), lit("U").as("op"))
    val del = base.where(col("k") % 7 =!= 0 && col("k") % 11 === 0)
      .select(col("k"), lit(null).cast("long").as("new_c"), lit("D").as("op"))
    val ins = base.where(col("k") % 13 === 0)
      .select((col("k") + 1000000000000L).as("k"),
        col("price_c").as("new_c"), lit("I").as("op"))
    base.join(upd.unionByName(del).unionByName(ins), Seq("k"), "full_outer")
      .where(col("op").isNull || col("op") =!= "D")
      .select(col("k").as("o_orderkey"),
        coalesce(col("new_c"), col("price_c")).as("price_c"),
        coalesce(col("op"), lit("=")).as("op"))
      .orderBy("o_orderkey")
  }

  /** q133 — TPC-H Q10 shape (returned-item revenue): top customers by
    * revenue from returned lineitems. The returnflag filter lands on
    * the lineitem SCAN; the filtered fact aggregates per customer
    * BEFORE joining the customer/nation dims (aggregate-then-join —
    * the join input is one row per customer, not one per lineitem);
    * nation broadcasts; global top-k is TakeOrdered. */
  def tpchQ10(customer: DataFrame, nation: DataFrame, orders: DataFrame,
      lineitem: DataFrame, k: Int = 20): DataFrame =
    lineitem.where(col("l_returnflag") === "R")
      .join(orders.select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_custkey")
      .agg(sum(lineRevenue).as("revenue"))
      .join(customer.select("c_custkey", "c_name", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation.select("n_nationkey", "n_name")),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_name"), col("n_name"),
        col("revenue").cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey").asc)
      .limit(k)

  /** q120 — incremental aggregate maintenance: the q98/q105 merge
    * story for RELATIONAL aggregate state. A stored per-customer
    * summary (count / sum / min / max of order totals, cents-exact)
    * built from orders below the `cap` boundary is merged with the new
    * batch's partials by UNION + re-aggregate — the associative
    * combine (n₁+n₂, s₁+s₂, min, max) that makes an aggregation view
    * maintainable without ever touching the stored rows again. The
    * oracle rebuilds from the whole table, so a hash match PROVES
    * merge ≡ rebuild. Scale shape: both partials are map-side-combined
    * aggregates; the merge re-agg shuffles only per-key summary rows
    * (two rows per key worst-case), never the fact table. */
  def aggMerge(orders: DataFrame, cap: Long): DataFrame = {
    val cents = round(col("o_totalprice") * 100).cast("long")
    def partial(df: DataFrame) = df.groupBy("o_custkey").agg(
      count(lit(1)).as("n_orders"), sum(cents).as("sum_c"),
      min(cents).as("min_c"), max(cents).as("max_c"))
    partial(orders.where(col("o_orderkey") < cap))
      .unionByName(partial(orders.where(col("o_orderkey") >= cap)))
      .groupBy("o_custkey")
      .agg(sum(col("n_orders")).as("n_orders"), sum(col("sum_c")).as("sum_c"),
        min(col("min_c")).as("min_c"), max(col("max_c")).as("max_c"))
      .orderBy("o_custkey")
  }

  /** Skyline price-shard width (cents): contiguous price bands so the
    * cross-shard suffix-max reduces to a bounded per-shard summary —
    * the q101 distributed-prefix-sum discipline, flipped to a
    * suffix-MAX. ~60 shards on the testdata price range. */
  val SkylineShardCents = 1000000L

  /** q125 — 2-D skyline (Pareto frontier): orders not dominated in
    * (totalprice, orderdate) — "no other order is both at least as
    * expensive AND at least as recent, strictly better in one". The
    * 2-D skyline is exactly a suffix-max scan: a row survives iff its
    * date equals its price-group's max AND beats the max date over all
    * STRICTLY higher prices. That global ordered scan is computed the
    * q101 way — never one corpus-wide window task:
    *   1. collapse to DISTINCT prices (map-side combinable groupBy);
    *   2. shard prices into contiguous `SkylineShardCents` bands;
    *      per-shard suffix-max windows run in parallel (partitionBy
    *      shard), and the cross-shard pass is a window over the
    *      BOUNDED shard-summary relation, broadcast back;
    *   3. rows join their price group's verdict on the price key.
    * Dates compare as 'yyyy-MM-dd' strings (lexicographic =
    * chronological) on both engines. The oracle states the single
    * windowed scan over distinct prices, so the hash match proves
    * sharded ≡ windowed; the spec proves windowed ≡ the NOT EXISTS
    * dominance definition. Ties on both dims survive together
    * (neither strictly dominates). */
  def skyline(orders: DataFrame): DataFrame = {
    val o = orders.select(col("o_orderkey"),
      round(col("o_totalprice") * 100).cast("long").as("price_c"),
      date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"))
    val g = o.groupBy("price_c").agg(max(col("order_date")).as("gmax"))
      .withColumn("shard", floor(col("price_c") / SkylineShardCents).cast("long"))
    val wAbove = Window.orderBy(col("shard").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val above = g.groupBy("shard").agg(max(col("gmax")).as("smax"))
      .withColumn("above", coalesce(max(col("smax")).over(wAbove), lit("")))
      .select("shard", "above")
    val wIn = Window.partitionBy("shard").orderBy(col("price_c").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val verdict = g
      .withColumn("in_above", coalesce(max(col("gmax")).over(wIn), lit("")))
      .join(broadcast(above), Seq("shard"))
      .select(col("price_c"), col("gmax"),
        greatest(col("in_above"), col("above")).as("run"))
    o.join(verdict, Seq("price_c"))
      .where(col("order_date") === col("gmax") && col("run") < col("order_date"))
      .select("o_orderkey", "price_c", "order_date")
      .orderBy("o_orderkey")
  }

  /** q126 — TPC-H Q13 shape (customer order-count distribution): LEFT
    * OUTER join so zero-order customers survive into the c_count=0
    * bucket, then a distribution re-aggregation. Two shuffles (custkey
    * join + tiny count-keyed agg); the priority filter belongs on the
    * orders SCAN, before the join. */
  def tpchQ13(customer: DataFrame, orders: DataFrame): DataFrame =
    customer.select(col("c_custkey"))
      .join(orders.where(!col("o_orderpriority").startsWith("1-"))
        .select(col("o_custkey"), col("o_orderkey")),
        col("c_custkey") === col("o_custkey"), "left")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy("c_count")
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)

  /** q127 — order-independent table checksum: the replica/migration
    * verification primitive for 100 TB tables — did two copies (or an
    * engine swap, or this very library vs DuckDB) produce the same
    * relation, WITHOUT moving either. Per-row polyHash of a canonical
    * '|'-joined rendering, summed per group: commutative, so the
    * checksum is independent of partitioning, row order, and file
    * layout; fully map-side except the final tiny per-status rollup.
    * Row hashes are < 10⁹, so a 10⁹-row group sums < 10¹⁸ — inside
    * Long. The oracle recomputes the same checksum in DuckDB; the
    * hash gate is literally two engines agreeing on the fingerprint. */
  def tableChecksum(orders: DataFrame): DataFrame = {
    val rowStr = concat_ws("|",
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      round(col("o_totalprice") * 100).cast("long"),
      date_format(col("o_orderdate"), "yyyy-MM-dd"), col("o_orderpriority"))
    orders
      .select(col("o_orderstatus"), TextFns.polyHash(rowStr).as("h"))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_rows"), sum(col("h")).as("checksum"))
      .orderBy("o_orderstatus")
  }

  /** q150 — TPC-H Q9 shape (product-type profit): the WIDEST join fan
    * in the suite — lineitem resolves through FOUR dimensions (part,
    * supplier, nation, orders) before a (nation, year) profit rollup.
    * Hint policy per dimension: the name-filtered part, supplier, and
    * nation relations are parameter-or-fraction-sized → explicit
    * broadcast (the fact table never shuffles for them); orders GROWS
    * with the corpus → deliberately unhinted shuffle join on orderkey
    * (broadcasting it is the unbounded-broadcast anti-pattern; AQE
    * promotes at testdata scale where it happens to fit). TpchShapeSpec
    * pins hinted ≡ the no-hints SQL formulation. Profit stays
    * DECIMAL(18,4) end-to-end; `extract(year)` lands in the GROUP key
    * (the real Q9's o_year). The real Q9's ps_supplycost has no
    * partsupp table here — p_retailprice·quantity/10 stands in, same
    * expression both engines. */
  def tpchQ9(part: DataFrame, supplier: DataFrame, lineitem: DataFrame,
      orders: DataFrame, nation: DataFrame): DataFrame = {
    val amount = lineRevenue -
      (col("p_retailprice") * col("l_quantity") / 10).cast("decimal(18,4)")
    lineitem
      .join(broadcast(part.where(col("p_name").like("%red%"))
        .select("p_partkey", "p_retailprice")),
        col("l_partkey") === col("p_partkey"))
      .join(broadcast(supplier.select("s_suppkey", "s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nation.select("n_nationkey", "n_name")),
        col("s_nationkey") === col("n_nationkey"))
      .join(orders.select("o_orderkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("n_name").as("nation"),
        year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(sum(amount).cast("double").as("sum_profit"))
      .orderBy(col("nation").asc, col("o_year").desc)
  }

  /** q151 — TPC-H Q12 shape (shipping-priority audit): the two-way
    * CONDITIONAL aggregation — one orders⋈lineitem join, then per
    * group BOTH a high-priority and a low-priority count from the same
    * rows via sum(CASE) (no second scan, no self-join; the real Q12's
    * shipmode maps to returnflag — this schema carries no shipmode).
    * The IN-list and date range land on the lineitem SCAN
    * (PushedFilters) before the join; map-side partials make the final
    * rollup a 2-row exchange. */
  def tpchQ12(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    lineitem
      .where(col("l_returnflag").isin("A", "N") &&
        col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .join(orders.select("o_orderkey", "o_orderpriority"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_returnflag").as("flag"))
      .agg(
        sum(when(high, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(!high, 1L).otherwise(0L)).as("low_line_count"))
      .orderBy("flag")
  }

  /** q149 — TPC-H Q16 shape: supplier diversity per part group, with
    * the classic `NOT IN (subquery)` exclusion — THE three-valued-logic
    * correctness trap. `x NOT IN (S)` is not `NOT EXISTS`: one NULL in
    * S makes every membership test UNKNOWN and the whole result empty,
    * so Catalyst must keep a NULL-AWARE anti join (LeftAnti on
    * `key = sub OR isnull(key = sub)`; single-key + broadcastable
    * right side plans as BroadcastHashJoin LeftAnti with
    * isNullAwareAntiJoin=true) — a plan node nothing else in the suite
    * produces, pinned by NullAwareAntiSpec along with the
    * NULLs-present empty-result twin. Deliberately the `spark.sql`
    * TEXT surface: the point is the parser+analyzer path a user's
    * literal `NOT IN` takes, not a hand-built anti join.
    *
    * Scale shape: the excluded-supplier subquery is predicate-filtered
    * (parameter-sized) and broadcasts; part joins lineitem on partkey
    * (the in-filter on p_size prunes part before the join); the
    * distinct-supplier count shuffles once on the group keys. The real
    * Q16's partsupp bridge maps to lineitem (this schema's only
    * part↔supplier relation); s_acctbal < 0 stands in for the
    * comment-LIKE complaint filter (no s_comment column). */
  def tpchQ16(part: DataFrame, supplier: DataFrame,
      lineitem: DataFrame, k: Int = 20): DataFrame = {
    val spark = part.sparkSession
    part.createOrReplaceTempView("graft_part_q16")
    supplier.createOrReplaceTempView("graft_supplier_q16")
    lineitem.createOrReplaceTempView("graft_lineitem_q16")
    spark.sql(
      s"""SELECT p_brand, p_type, p_size,
         |       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
         |FROM graft_lineitem_q16
         |JOIN graft_part_q16 ON p_partkey = l_partkey
         |WHERE p_brand <> 'Brand#2'
         |  AND p_size IN (3, 11, 18, 28)
         |  AND l_suppkey NOT IN (SELECT s_suppkey FROM graft_supplier_q16
         |                        WHERE s_acctbal < 0)
         |GROUP BY p_brand, p_type, p_size
         |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
         |LIMIT $k""".stripMargin)
  }

  /** q161 — TUPLE (multi-column) `NOT IN (subquery)` through the SQL
    * TEXT surface: lineitems whose `(l_partkey, l_suppkey)` pair never
    * appears among heavy returned shipments. Single-column NOT IN
    * (q149) plans as a BroadcastHashJoin with
    * `isNullAwareAntiJoin=true`; the TUPLE form cannot — Spark rewrites
    * it to a LeftAnti join whose condition is
    * `(a=x AND b=y) OR isnull(a=x) OR isnull(b=y)`, and the OR-of-
    * isnulls makes it non-equi ⟹ a BroadcastNestedLoopJoin. That
    * fallback is the day-one SQL shape NullAwareAntiSpec's q149 test
    * only anticipated; this query exercises it for real (plan-pinned,
    * with the NULL-in-subquery empty-result twin).
    *
    * Scale shape: a nested-loop anti join is O(|probe|·|exclusion|) BY
    * SEMANTICS (three-valued logic needs every probe row to see every
    * exclusion row unless a match short-circuits), so the exclusion
    * subquery MUST be parameter-sized — and "selective predicate" is
    * NOT enough: a fixed-selectivity filter grows linearly with the
    * corpus (the first cut of this query used returnflag+quantity
    * alone — 8k exclusion rows at sf0.1 made the BNLJ a 30 s row, and
    * at 100 TB it would be millions). The `l_orderkey < 1000` bound is
    * a fixed KEY RANGE: constant-size at any corpus scale, so the
    * broadcast side is truly parameter-sized by construction. An
    * unbounded exclusion side should be rewritten by the author to the
    * NULL-free `LEFT ANTI` equi form instead — engines cannot make
    * tuple-NOT-IN-with-nulls cheap, only explicit. */
  def tupleNotIn(lineitem: DataFrame): DataFrame = {
    val spark = lineitem.sparkSession
    lineitem.createOrReplaceTempView("graft_lineitem_q161")
    spark.sql(
      """SELECT l_returnflag, l_linestatus,
        |       CAST(count(*) AS BIGINT) AS n_clean,
        |       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supp
        |FROM graft_lineitem_q161
        |WHERE (l_partkey, l_suppkey) NOT IN (
        |    SELECT l_partkey, l_suppkey FROM graft_lineitem_q161
        |    WHERE l_returnflag = 'R' AND l_quantity >= 49
        |      AND l_orderkey < 1000)
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)
  }

  /** q36 — date-part extraction (`year`/`month`) + grouped aggregation
    * over the order calendar. */
  def datePartsAgg(orders: DataFrame): DataFrame =
    orders
      .groupBy(
        year(col("o_orderdate")).as("yr"),
        month(col("o_orderdate")).as("mo"))
      .agg(
        count(lit(1)).as("n_orders"),
        sumMoney(col("o_totalprice")).as("sum_price"))
      .orderBy("yr", "mo")

  /** q155 — lineitem served from a CSV SIDECAR (Sidecar.csv): the
    * aggregation is deliberately plain — the operator under test is
    * the csv WRITER+READER pair (quoting, header, explicit schema
    * application, day-granular timestamp round-trip through text),
    * gated against an oracle that reads the PARQUET original. min/max
    * shipdate land in the output so a text-format timestamp drift can
    * never pass silently. */
  def lineitemProfile(lineitem: DataFrame): DataFrame =
    lineitem
      .groupBy(col("l_returnflag").as("flag"),
        col("l_linestatus").as("status"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_quantity").cast("long")).as("sum_qty"),
        sum(round(col("l_extendedprice") * 100).cast("long")).as("sum_price_c"),
        date_format(min(col("l_shipdate")), "yyyy-MM-dd").as("first_ship"),
        date_format(max(col("l_shipdate")), "yyyy-MM-dd").as("last_ship"))
      .orderBy("flag", "status")

  /** q207 — orders served from an ORC SIDECAR (Sidecar.orc): the
    * aggregation is plain on purpose — the operator under test is the
    * ORC writer+reader pair (TIMESTAMP_NTZ attribute, double payload
    * bits, explicit-schema application), gated against an oracle that
    * reads the PARQUET original. Timestamps land in the output at
    * MICROSECOND grain (unix_micros, the q156 tripwire) so a
    * precision-losing round trip can never pass silently; the price
    * sum in integer cents pins the double bits. */
  def ordersProfile(orders: DataFrame): DataFrame =
    orders
      .groupBy(col("o_orderstatus").as("status"),
        col("o_orderpriority").as("priority"))
      .agg(count(lit(1)).as("n_orders"),
        countDistinct(col("o_custkey")).as("n_custs"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("sum_price_c"),
        min(unix_micros(col("o_orderdate")
          .cast(org.apache.spark.sql.types.TimestampType))).as("first_us"),
        max(unix_micros(col("o_orderdate")
          .cast(org.apache.spark.sql.types.TimestampType))).as("last_us"))
      .orderBy("status", "priority")

  /** q159 — Z-ORDER (Morton) clustering key, oracle-gated bit-for-bit:
    * the multi-dimensional layout primitive (functions.ZOrder) applied
    * to (l_partkey, l_suppkey). The contract output is the interleaved
    * key itself over a total-ordered sample, so both engines must agree
    * on every bit of the mask-and-shift chain; ZOrderSpec separately
    * DEMONSTRATES the layout property — a z-sorted file admits a
    * secondary-dimension predicate to far fewer row groups than a
    * single-key sort (scan-metric-proven). Pure codegen'd bit
    * arithmetic; one TakeOrdered. */
  def zorderSample(lineitem: DataFrame, n: Int = 50): DataFrame =
    lineitem.select(col("l_orderkey"),
        col("l_linenumber").cast("long").as("l_linenumber"),
        col("l_partkey"), col("l_suppkey"),
        graft.functions.ZOrder.mortonKey(col("l_partkey"), col("l_suppkey"))
          .as("zkey"))
      .orderBy(col("zkey").asc, col("l_orderkey").asc, col("l_linenumber").asc)
      .limit(n)

  /** q152 — TPC-H Q2 shape (minimum-cost supplier): the CORRELATED
    * scalar-aggregate join fan. For every small part, keep the
    * shipment rows whose price equals that part's GLOBAL minimum
    * shipped price, then resolve the shipping supplier through
    * nation→region and keep the ASIA ones. This schema has no
    * partsupp; lineitem stands in as the (part, supplier, cost)
    * relation with l_extendedprice as the cost. The ORACLE phrases the
    * gate as the textbook correlated scalar subquery (`WHERE price_c =
    * (SELECT min(price_c) FROM lineitem l2 WHERE l2.l_partkey =
    * l.l_partkey)`); the engine DECORRELATES by construction — one
    * map-side-combinable min per partkey joined back on (partkey,
    * equality) — semantically identical because a minimum is a unique
    * VALUE, and never a per-row subquery. Prices compare in CENTS
    * (LONG) so the equality is exact on both engines; (part, supplier)
    * pairs dedup like Q2's unique partsupp key. Dims broadcast; the
    * fact side shuffles once on l_partkey (the aggregate) and the
    * join-back reuses that key. */
  def tpchQ2(lineitem: DataFrame, part: DataFrame, supplier: DataFrame,
      nation: DataFrame, region: DataFrame): DataFrame = {
    val shipped = lineitem
      .join(broadcast(part.where(col("p_size") <= 10)
        .select("p_partkey", "p_name")),
        col("l_partkey") === col("p_partkey"))
      .select(col("l_partkey"), col("l_suppkey"), col("p_name"),
        round(col("l_extendedprice") * 100).cast("long").as("price_c"))
    val minPrice = shipped.groupBy("l_partkey")
      .agg(min(col("price_c")).as("min_price_c"))
    val asiaSupp = supplier
      .join(broadcast(nation.select("n_nationkey", "n_regionkey", "n_name")),
        col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(region.where(col("r_name") === "ASIA")
        .select("r_regionkey")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey"), col("s_name"),
        round(col("s_acctbal") * 100).cast("long").as("acctbal_c"),
        col("n_name"))
    shipped
      .join(minPrice, Seq("l_partkey"))
      .where(col("price_c") === col("min_price_c"))
      .select("l_partkey", "l_suppkey", "p_name", "min_price_c").distinct()
      .join(broadcast(asiaSupp), col("l_suppkey") === col("s_suppkey"))
      .select(col("acctbal_c"), col("s_name"), col("n_name"),
        col("l_partkey").as("p_partkey"), col("p_name"), col("min_price_c"))
      .orderBy(col("acctbal_c").desc, col("n_name").asc, col("s_name").asc,
        col("p_partkey").asc)
      .limit(100)
  }

  /** q153 — TPC-H Q11 shape (significant stock): per-group value with
    * a HAVING gate against GLOBAL scalar aggregates — per-part
    * discounted revenue kept only where it exceeds 1.1× the MEAN
    * part's (the real Q11's fixed 0.0001 fraction is meaningless on a
    * corpus whose part count scales with sf — a fixed fraction is
    * all-rows at sf0.001 and zero rows at sf0.1; the mean-relative
    * gate keeps the identical decorrelation shape at every scale).
    * The oracle writes the textbook `HAVING sum(...)·n·10 > (SELECT
    * sum ...)·11` with two scalar subqueries; the engine computes both
    * scalars in ONE one-row broadcast onto the per-part aggregate (the
    * q114/q115 pattern — never a per-group subquery), and the gate
    * cross-multiplies DECIMALs by integers instead of multiplying by
    * a double 1.1/n, so the boundary is exact on both engines. Two
    * aggregations over one relation, both map-side combinable; nothing
    * corpus-sized broadcasts. */
  def tpchQ11(lineitem: DataFrame): DataFrame = {
    // NULL keys are excluded up front, matching the oracle's WHERE: the
    // textbook scalar `COUNT(DISTINCT l_partkey)` never counts NULL, so
    // without the filter a NULL-key corpus would gate with a different n
    // AND emit a NULL-key row the oracle side lacks — the decorrelation
    // equivalence is only unconditional over non-null keys.
    val perPart = lineitem
      .where(col("l_partkey").isNotNull)
      .groupBy("l_partkey")
      .agg(sum(lineRevenue).as("val"))
    val scalars = perPart.agg(sum(col("val")).as("total"),
      count(lit(1)).as("n"))
    // The cross-multiply is kept inside Spark's DECIMAL(38) cap by
    // bounding the operands FIRST: val/total as DECIMAL(22,4) (exact
    // below 10^18 total revenue — TPC-H SF100k is ~2·10^16) and 10·n as
    // DECIMAL(15,0) (n < 10^14 parts), so val·(10n) derives
    // DECIMAL(38,4) with NO precision loss. Unbounded operands would
    // derive precision 49 and, with ANSI off, overflow to NULL at large
    // scale — silently DROPPING qualifying parts rather than erroring.
    val val22 = col("val").cast(DecimalType(22, 4))
    val tot22 = col("total").cast(DecimalType(22, 4))
    val n10 = (col("n") * 10).cast(DecimalType(15, 0))
    perPart
      .crossJoin(broadcast(scalars))
      .where(val22 * n10 > tot22 * lit(11).cast(DecimalType(2, 0)))
      .select(col("l_partkey"), col("val").cast("double").as("value"))
      .orderBy(col("value").desc, col("l_partkey").asc)
  }

  /** q201 — DATA-QUALITY AUDIT (the Deequ-shaped check battery a
    * warehouse runs before trusting a load): five constraint classes
    * over lineitem — completeness (NULL ship dates), accepted values
    * (return flag ∈ {A,N,R}), range (discount ∈ [0, 0.1]), key
    * uniqueness ((orderkey, linenumber) duplicate rows), and
    * referential integrity (orderkey present in orders) — emitted as
    * ONE (rule, n_checked, n_violations, pass) relation. Engine
    * shape: the three row-local rules fold into a SINGLE aggregation
    * pass (conditional sums — one corpus scan covers all three),
    * uniqueness is one keyed aggregate, and the reference check is a
    * left-anti join (broadcast/AQE-planned); `stack` unpivots the
    * fused pass into rule rows. Null handling is written EXPLICITLY
    * (`isNull OR NOT IN`) so both engines count a NULL flag as a
    * violation instead of three-valued-logic silently dropping it —
    * the classic DQ-check bug. At 100 TB this is two fact scans + one
    * key aggregate, not five passes. */
  def dqAudit(lineitem: DataFrame, orders: DataFrame): DataFrame = {
    val fused = lineitem.agg(
      count(lit(1)).as("n"),
      sum(col("l_shipdate").isNull.cast("long")).as("v_null"),
      sum((col("l_returnflag").isNull ||
        !col("l_returnflag").isin("A", "N", "R")).cast("long")).as("v_flag"),
      sum((col("l_discount").isNull || col("l_discount") < 0.0 ||
        col("l_discount") > 0.1).cast("long")).as("v_disc"))
    val rowRules = fused
      .select(expr(
        """stack(3,
          |  'li_discount_range', n, v_disc,
          |  'li_flag_accepted', n, v_flag,
          |  'li_shipdate_complete', n, v_null)
          |AS (rule, n_checked, n_violations)""".stripMargin))
    val dupRows = lineitem
      .groupBy("l_orderkey", "l_linenumber").agg(count(lit(1)).as("c"))
      .agg(sum(col("c")).as("n"),
        coalesce(sum(when(col("c") > 1, col("c"))), lit(0L)).as("v"))
      .select(lit("li_pk_unique").as("rule"), col("n").as("n_checked"),
        col("v").as("n_violations"))
    val orphans = lineitem.select(col("l_orderkey"))
      .join(orders.select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("v"))
      // n_checked references the SAME fused aggregate subtree the row
      // rules use — REUSABLE by ReuseExchange (not guaranteed: AQE
      // replanning can plan the two physical aggregates differently,
      // in which case this costs one extra scan — perf only, results
      // unaffected). Still better than a fresh lineitem.agg, which
      // could never be reused
      .crossJoin(broadcast(fused.select(col("n"))))
      .select(lit("li_orderkey_ref").as("rule"), col("n").as("n_checked"),
        col("v").as("n_violations"))
    rowRules.unionByName(dupRows).unionByName(orphans)
      .withColumn("pass", col("n_violations") === 0L)
      .orderBy("rule")
  }

  /** Temp-view (and view-dependent function) names for the SQL-text
    * operators are derived from the INPUT plan's semanticHash: two
    * concurrent calls on different DataFrames in one session register
    * different names instead of clobbering each other's view between
    * registration and sql(); the same input re-registers the same
    * (identical) definition, which createOrReplace makes idempotent.
    * Hex of the hash keeps the suffix identifier-safe (no '-'). */
  private def viewFor(df: DataFrame, base: String): String =
    base + "_" + java.lang.Integer.toHexString(
      df.queryExecution.analyzed.semanticHash())

  /** q188 — SQL PIPE syntax (`|>`, Spark 4): the linear query grammar
    * a migrating user increasingly writes instead of nested SELECTs —
    * each `|>` stage consumes the previous result top-to-bottom, so
    * filter → aggregate → post-aggregate filter → project → order read
    * in EXECUTION order. The analyzer marks each stage with a
    * `PipeOperator` node; the optimizer erases them, leaving the exact
    * relational tree the classic GROUP BY + HAVING form produces (spec
    * pins `sameResult` on the optimized plans), so every Catalyst
    * property the suite has audited — partial aggregation, pushdown,
    * AQE — applies unchanged: pipe syntax is surface, not engine.
    * Post-aggregation `|> WHERE` is the HAVING analog; money sums go
    * through DECIMAL then DOUBLE per the q08 convention. */
  def pipeSqlAgg(lineitem: DataFrame): DataFrame = {
    val spark = lineitem.sparkSession
    val v = viewFor(lineitem, "graft_li_pipe")
    lineitem.createOrReplaceTempView(v)
    spark.sql(
      s"""FROM $v
        ||> WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        ||> AGGREGATE count(*) AS n_rows,
        |             CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |             CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |   GROUP BY l_returnflag, l_linestatus
        ||> WHERE n_rows > 0
        ||> SELECT l_returnflag, l_linestatus, n_rows,
        |          round(sum_qty, 2) AS sum_qty, round(revenue, 2) AS revenue
        ||> ORDER BY l_returnflag, l_linestatus""".stripMargin)
  }

  /** The classic-syntax twin of [[pipeSqlAgg]] — exists so the spec can
    * assert `sameResult` on the optimized plans: the pipe chain and the
    * GROUP BY + HAVING text must optimize to one plan, not two
    * dialects. */
  def pipeSqlAggClassic(lineitem: DataFrame): DataFrame = {
    val spark = lineitem.sparkSession
    val v = viewFor(lineitem, "graft_li_pipe")
    lineitem.createOrReplaceTempView(v)
    spark.sql(
      s"""SELECT l_returnflag, l_linestatus, n_rows,
        |       round(sum_qty, 2) AS sum_qty, round(revenue, 2) AS revenue
        |FROM (
        |  SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
        |         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |         CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |  FROM $v
        |  WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |  GROUP BY l_returnflag, l_linestatus)
        |WHERE n_rows > 0
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)
  }

  /** q190 — PARAMETERIZED SQL + the IDENTIFIER clause: the injection-
    * safe text surface (`spark.sql(text, args)`) a service layer runs —
    * values bind as TYPED literals through `:name` markers and the
    * table name resolves through `IDENTIFIER(:tbl)`, so neither is ever
    * string-spliced into the query. Binding happens at PARSE time
    * (parameterized parse, not substitution): a value containing SQL
    * text stays a value (spec pins the injection shape), and the bound
    * plan is byte-identical to the literal text's plan (spec pins
    * `sameSemantics` against the literal form). Engine cost is
    * unchanged — parameters reach Catalyst as foldable literals, so
    * pushdown sees `n_chars >= 300` exactly as if it were typed. */
  def paramIdentifierAgg(docs: DataFrame,
      minChars: Long = 300L): DataFrame = {
    val spark = docs.sparkSession
    val v = viewFor(docs, "graft_docs_param")
    docs.createOrReplaceTempView(v)
    spark.sql(
      """SELECT lang, count(*) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM IDENTIFIER(:tbl)
        |WHERE n_chars >= :minChars
        |GROUP BY lang ORDER BY lang""".stripMargin,
      Map("tbl" -> v, "minChars" -> minChars))
  }

  /** q192 — SQL UDF (`CREATE FUNCTION … RETURN expr`, Spark 4): the
    * reusable-logic surface that does NOT leave codegen. Unlike a JVM
    * UDF (an opaque black box that kills pushdown and column pruning
    * around it), a SQL UDF is MACRO-INLINED by the analyzer: the
    * optimized plan contains the expanded expression and no function
    * call at all (spec pins the function name absent from the
    * optimized plan, the body's cast present, and results identical
    * to the hand-inlined text; the only inlining residue is the
    * parameter-binding aliases in a collapsed Project), so
    * whole-stage codegen, constant folding, and filter pushdown treat
    * it exactly as if the user had typed the body. The body is the
    * suite's one shared line-revenue definition (q08/q07's DECIMAL
    * convention) — the use case SQL UDFs exist for: one definition,
    * N call sites, zero plan cost. */
  def sqlUdfRevenue(lineitem: DataFrame): DataFrame = {
    val spark = lineitem.sparkSession
    val v = viewFor(lineitem, "graft_li_udf")
    lineitem.createOrReplaceTempView(v)
    // the function name stays FIXED: its body is input-independent
    // (a pure expression), so a concurrent re-registration replaces
    // the definition with an identical one — harmless by idempotence
    spark.sql(
      """CREATE OR REPLACE TEMPORARY FUNCTION graft_line_rev(
        |  price DOUBLE, disc DOUBLE) RETURNS DECIMAL(18,4)
        |RETURN CAST(price * (1 - disc) AS DECIMAL(18,4))""".stripMargin)
    spark.sql(
      s"""SELECT l_returnflag,
        |       CAST(sum(graft_line_rev(l_extendedprice, l_discount)) AS DOUBLE)
        |         AS revenue,
        |       count(*) AS n_rows
        |FROM $v
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
  }

  /** The hand-inlined twin of [[sqlUdfRevenue]] — exists so the spec
    * can assert the UDF call and the typed-out body produce identical
    * results from structurally-equal plans (modulo the parameter
    * aliases): proof the function is erased, not executed. */
  def sqlUdfRevenueInline(lineitem: DataFrame): DataFrame = {
    val spark = lineitem.sparkSession
    val v = viewFor(lineitem, "graft_li_udf")
    lineitem.createOrReplaceTempView(v)
    spark.sql(
      s"""SELECT l_returnflag,
        |       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
        |         AS revenue,
        |       count(*) AS n_rows
        |FROM $v
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
  }

  /** q193 — SQL TABLE function (`CREATE FUNCTION … RETURNS TABLE`,
    * Spark 4): a parameterized relation — the view-with-arguments a
    * migrating user writes for "the same report at a different
    * threshold". Like the scalar form (q192) it is inlined at
    * invocation: `FROM graft_lang_profile(280)` plans as the plain
    * filter→aggregate tree with the argument folded into the pushed
    * predicate (spec pins the function name absent from the optimized
    * plan), so a TVF costs exactly what its body costs. Body follows
    * the q20 averaging convention (exact LONG sum / count, one IEEE
    * division). */
  /** q220 — modern-SQL ergonomics parity: GROUP BY ALL (grouping keys
    * inferred = the non-aggregate select items), ORDER BY ALL (total
    * order over the whole select list, left to right), and a LATERAL
    * COLUMN ALIAS (`sum_cents` reused by `avg_cents` inside the same
    * list) in one statement — the three sugars a migrating analyst
    * writes daily. The ORACLE states the fully EXPLICIT classic form,
    * so the hash match proves the sugared text resolves to exactly
    * the explicit relation (inference picked the right keys, the
    * lateral alias bound to the select item and not a base column,
    * ALL ordered every output column). Engine limitation found and
    * pinned here: Spark 4.1 REJECTS a lateral column alias inside a
    * GROUP BY ALL statement ([UNSUPPORTED_FEATURE
    * .LATERAL_COLUMN_ALIAS_IN_GROUP_BY]), so the sugars are layered —
    * inner GROUP BY ALL, outer lateral-alias CHAIN (`avg_cents`
    * defined from `sum_cents`/`n`, then itself consumed by
    * `floor_cents` — two hops, the alias must resolve left-to-right)
    * + ORDER BY ALL. Cents via round(×100) with identical expression
    * text on both engines; avg is integer `div` over non-negative
    * operands (≡ DuckDB `//`). */
  def sqlSugarAgg(orders: DataFrame): DataFrame = {
    val spark = orders.sparkSession
    val v = viewFor(orders, "graft_ord_sugar")
    orders.createOrReplaceTempView(v)
    spark.sql(
      s"""SELECT o_orderstatus, o_orderpriority, n, sum_cents,
         |       sum_cents div n AS avg_cents,
         |       avg_cents * n AS floor_cents
         |FROM (
         |  SELECT o_orderstatus, o_orderpriority, count(*) AS n,
         |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents
         |  FROM $v
         |  GROUP BY ALL
         |)
         |ORDER BY ALL""".stripMargin)
  }

  def sqlTvfLangProfile(docs: DataFrame, minChars: Long = 280L): DataFrame = {
    val spark = docs.sparkSession
    val v = viewFor(docs, "graft_docs_tvf")
    // the TVF body REFERENCES the view, so the function name must vary
    // with the input too — a fixed function name over a per-input view
    // would still cross-wire two concurrent callers
    val fn = viewFor(docs, "graft_lang_profile")
    docs.createOrReplaceTempView(v)
    spark.sql(
      s"""CREATE OR REPLACE TEMPORARY FUNCTION $fn(
        |  min_chars BIGINT)
        |RETURNS TABLE(lang STRING, n_docs BIGINT, avg_chars DOUBLE)
        |RETURN SELECT lang, count(*) AS n_docs,
        |              CAST(sum(n_chars) AS DOUBLE) / count(*) AS avg_chars
        |       FROM $v WHERE n_chars >= min_chars
        |       GROUP BY lang""".stripMargin)
    spark.sql(
      s"SELECT * FROM $fn($minChars) ORDER BY lang")
  }

  /** q154 — TPC-H Q20 shape (dominant-supplier semi-join chain):
    * suppliers in the ASIA region who, for some small part inside one
    * ship-year, carried MORE THAN HALF of that part's shipped
    * quantity. The oracle nests the textbook chain — `s_suppkey IN
    * (… GROUP BY part, supp HAVING 2·sum(qty) > (SELECT sum(qty) …
    * correlated on part))` — a correlated aggregate inside a HAVING
    * inside an IN. The engine decorrelates to two aggregations of the
    * SAME filtered relation (per-pair and per-part quantity, joined on
    * partkey) and a LEFT SEMI join into supplier; quantities compare
    * as 2·pair > part in LONG (quantities are integral), exact on
    * both engines. The part filter broadcasts into the fact scan
    * FIRST, so both aggregations run over the pruned slice only. */
  def tpchQ20(lineitem: DataFrame, part: DataFrame, supplier: DataFrame,
      nation: DataFrame, region: DataFrame): DataFrame = {
    val window = lineitem
      .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      .join(broadcast(part.where(col("p_name").like("small%"))
        .select("p_partkey")),
        col("l_partkey") === col("p_partkey"))
      .select(col("l_partkey"), col("l_suppkey"),
        col("l_quantity").cast("long").as("q"))
    val perPair = window.groupBy("l_partkey", "l_suppkey")
      .agg(sum(col("q")).as("pair_q"))
    val perPart = window.groupBy("l_partkey").agg(sum(col("q")).as("part_q"))
    val dominant = perPair.join(perPart, Seq("l_partkey"))
      .where(col("pair_q") * 2 > col("part_q"))
      .select(col("l_suppkey"))
    supplier
      .join(broadcast(nation.select("n_nationkey", "n_regionkey")),
        col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(region.where(col("r_name") === "ASIA")
        .select("r_regionkey")),
        col("n_regionkey") === col("r_regionkey"))
      .join(dominant, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select(col("s_suppkey"), col("s_name"))
      .orderBy("s_suppkey")
  }

  /** q227 — MARKET-BASKET association pairs (support / confidence /
    * lift), the frequent-itemset primitive the suite lacked: baskets
    * are orders, items the DISTINCT parts in each order, candidate
    * pairs generated WITHIN each basket only (a < b), so the pair
    * fan-out is quadratic in BASKET SIZE — and basket size is CAPPED
    * at `maxBasket` by a rarest-first prefix prune (the q123
    * discipline): items rank within their basket by global support
    * ascending (ties by part id, fully deterministic), and only the
    * `maxBasket` rarest survive to the pair stage. This schema's
    * baskets top out at 7 lines, so the default cap of 64 is
    * invisible here (capped ≡ uncapped, spec-pinned) — but one viral
    * basket in real data is a hot-key bomb (a 10⁵-item basket alone
    * is 5·10⁹ pairs), and the cap bounds every task at C(cap, 2)
    * pairs per basket while keeping the rarest — most informative —
    * items. Per-part supports and the basket count come from the
    * UNCAPPED relation (support is a property of the catalog, not of
    * the prune); only sup_ab is computed over the capped baskets, so
    * past the cap the output is a documented truncation, never a
    * skewed task. The pair stage rides ONE orderkey-partitioned
    * self-join. Pair support counts, per-part supports joined back
    * twice (Catalyst broadcasts the part-support relation while it
    * fits, degrades to shuffle when a 100 TB catalog doesn't),
    * confidence both directions and lift in exact integer micros
    * (`div` ≡ `//` on these non-negative operands; lift's numerator
    * sup_ab·N·1e6 overflows BIGINT past ~9e18 — ~1e6 baskets at
    * 1e6-support pairs — and the bound is ENFORCED: both lift
    * products ride `Guards.headroomMul`, so past the ceiling the
    * query raises a named error citing the DECIMAL(38,0) promotion
    * instead of wrapping silently). minSupport bounds the output to
    * genuinely frequent pairs. */
  def basketPairs(lineitem: DataFrame, minSupport: Long = 3L,
      maxBasket: Int = 64): DataFrame = {
    // a capped basket must still hold a pair: below 2 the combination
    // expansion would index element 0
    require(maxBasket >= 2, s"maxBasket must be at least 2, got $maxBasket")
    import org.apache.spark.sql.expressions.Window
    // several consumers (support, sizes, both prune branches, basket
    // count) read the distinct relation: persist once
    val raw = lineitem.select(col("l_orderkey").as("ok"),
      col("l_partkey").as("part")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sup = raw.groupBy("part").agg(count(lit(1)).as("sup"))
    // Round 15 (§2.4 — the suite's most expensive warm row was stage-
    // count-bound, not data-bound): baskets collect ONCE into a sorted
    // per-basket array — the q22 fused-sketch per-key collect pattern —
    // and the in-basket pair fan-out becomes a codegen'd combination
    // expansion over that array. This replaces the old size aggregation
    // + size join + small/big union + second persist + orderkey
    // SELF-JOIN (four extra exchanges and a cache materialization) with
    // one groupBy(ok). The basket-size gate survives on the array
    // itself: sub-cap baskets (every basket in this schema) expand
    // directly and never touch the support join — the ungated
    // per-item sup join + corpus window measured ~2× the query in an
    // earlier round — while an OVERSIZED basket (one row per basket,
    // array-sized like q22's per-doc token sets) re-explodes through
    // the rarest-first ranking (rank by global support asc, ties by
    // part id; the one window is partitioned by basket) and re-collects
    // capped, so the PAIR stage stays bounded at C(maxBasket, 2) per
    // basket — the hot-key bound is unchanged.
    val combos = s"""flatten(transform(sequence(1, size(ps) - 1), i ->
       |  transform(sequence(i + 1, size(ps)), j ->
       |    struct(element_at(ps, i) AS part_a, element_at(ps, j) AS part_b))))"""
      .stripMargin
    val baskets = raw.groupBy("ok")
      .agg(sort_array(collect_list(col("part"))).as("ps"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val smallPairs = baskets
      .where(size(col("ps")).between(2, maxBasket))
      .select(explode(expr(combos)).as("p"))
    val wB = Window.partitionBy("ok").orderBy(col("sup"), col("part"))
    val bigPairs = baskets
      .where(size(col("ps")) > maxBasket)
      .select(col("ok"), explode(col("ps")).as("part"))
      .join(sup, "part")
      .withColumn("rk", row_number().over(wB))
      .where(col("rk") <= maxBasket)
      .groupBy("ok")
      .agg(sort_array(collect_list(col("part"))).as("ps"))
      .select(explode(expr(combos)).as("p"))
    val pairs = smallPairs.unionByName(bigPairs)
      .select(col("p.part_a"), col("p.part_b"))
      .groupBy("part_a", "part_b")
      .agg(count(lit(1)).as("sup_ab"))
      .where(col("sup_ab") >= minSupport)
    // n_baskets = |distinct ok| = one count over the PERSISTED baskets
    // frame (a cache scan, unlike the un-persisted sizes variant that
    // measured slower by recomputing its aggregate twice)
    val n = broadcast(baskets.agg(count(lit(1)).as("n_baskets")))
    val result = pairs
      .join(sup.withColumnRenamed("part", "part_a")
        .withColumnRenamed("sup", "sup_a"), "part_a")
      .join(sup.withColumnRenamed("part", "part_b")
        .withColumnRenamed("sup", "sup_b"), "part_b")
      .crossJoin(n)
      .withColumn("lift_num", graft.functions.Guards.headroomMul(
        graft.functions.Guards.headroomMul(col("sup_ab"), col("n_baskets"),
          "q227 lift sup_ab*n_baskets"),
        lit(1000000L), "q227 lift numerator*1e6"))
      .withColumn("lift_den", graft.functions.Guards.headroomMul(
        col("sup_a"), col("sup_b"), "q227 lift sup_a*sup_b"))
      .select(col("part_a"), col("part_b"), col("sup_ab"),
        col("sup_a"), col("sup_b"),
        expr("sup_ab * 1000000 div sup_a").as("conf_ab_micros"),
        expr("sup_ab * 1000000 div sup_b").as("conf_ba_micros"),
        expr("lift_num div lift_den").as("lift_micros"))
      .orderBy("part_a", "part_b")
    Dedup.finishWith(result, raw, baskets)
  }

  /** q228 — RFM SEGMENTATION (recency / frequency / monetary), the
    * classic customer-analytics rollup, built on the SCALE path: each
    * metric's quintile boundaries come from the q148 bounded-histogram
    * rule (min bin with 100·cum ≥ p·n) — never an `ntile` window over
    * the customer population (a corpus-sized unpartitioned sort, the
    * q148 trap). Metrics are exact integers (recency = last-order day
    * index, frequency = order count, monetary = cents floor-divided
    * to 100-unit bins so the histogram range stays ~10⁴ — boundary
    * GRANULARITY is the only approximation, scores are exact given
    * the bins); scoring is 1 + three broadcast one-row boundary
    * comparisons per metric (strictly-greater, so ties share a
    * score deterministically); the output is the ≤ 5³ segment grid
    * with customer counts and exact cents mass. One custkey shuffle +
    * ONE fused tagged-histogram aggregation (round 14 — previously
    * three passes and three broadcast subtrees; the cumulative window
    * is partitioned by metric tag over bounded histogram rows); the
    * per-customer relation is persisted across its consumers. */
  def rfmSegments(orders: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val per = orders
      .withColumn("eus", unix_micros(col("o_orderdate")
        .cast(org.apache.spark.sql.types.TimestampType)))
      .groupBy(col("o_custkey"))
      .agg(max(expr("eus div 86400000000")).as("r_v"),
        count(lit(1)).as("f_v"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("m_cents"))
      .withColumn("m_v", expr("m_cents div 10000"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Round-14 optimization: the three per-metric quintile-boundary
    // towers (one histogram pass + one broadcast subtree EACH) fuse
    // into ONE: unpivot the three metrics to (tag, bin) rows, build
    // one tagged histogram, run the cumulative over a window
    // PARTITIONED by tag (previously three unpartitioned windows), and
    // fold all 12 boundaries in one one-row aggregate — one corpus
    // histogram pass and one broadcast instead of three of each. The
    // per-tag histogram equals each metric's own histogram and the
    // per-tag total equals the customer count, so every boundary value
    // is unchanged (the oracle text is untouched and still matches).
    val metricRows = per.select(explode(array(
        struct(lit("rb").as("tag"), col("r_v").as("bin")),
        struct(lit("fb").as("tag"), col("f_v").as("bin")),
        struct(lit("mb").as("tag"), col("m_v").as("bin")))).as("tv"))
      .select(col("tv.tag").as("tag"), col("tv.bin").as("bin"))
    val hist = metricRows.groupBy("tag", "bin").agg(count(lit(1)).as("cnt"))
    val wTag = Window.partitionBy("tag").orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist.withColumn("cum", sum(col("cnt")).over(wTag))
      .join(broadcast(hist.groupBy("tag").agg(sum(col("cnt")).as("n"))),
        Seq("tag"))
    def b(tag: String, p: Int) =
      min(when(col("tag") === tag && col("cum") * 100 >= col("n") * p,
        col("bin"))).as(s"$tag$p")
    val bounds = cum.agg(
      b("rb", 20), b("rb", 40), b("rb", 60), b("rb", 80),
      b("fb", 20), b("fb", 40), b("fb", 60), b("fb", 80),
      b("mb", 20), b("mb", 40), b("mb", 60), b("mb", 80))
    def score(v: String, tag: String) =
      (lit(1L) + (col(v) > col(s"${tag}20")).cast("long") +
        (col(v) > col(s"${tag}40")).cast("long") +
        (col(v) > col(s"${tag}60")).cast("long") +
        (col(v) > col(s"${tag}80")).cast("long")).as(s"${tag}_score")
    val result = per
      .crossJoin(broadcast(bounds))
      .select(col("m_cents"), score("r_v", "rb"), score("f_v", "fb"),
        score("m_v", "mb"))
      .groupBy(col("rb_score").as("r_score"), col("fb_score").as("f_score"),
        col("mb_score").as("m_score"))
      .agg(count(lit(1)).as("n_customers"), sum(col("m_cents")).as("sum_cents"))
      .orderBy("r_score", "f_score", "m_score")
    Dedup.finishWith(result, per)
  }

  /** q254 — weekday SEASONALITY audit: order volume by day-of-week
    * with an exact χ² against uniformity — the "is this data's clock
    * real?" probe beside q246's Benford digits (synthetic data is
    * usually flat across weekdays; real commerce never is — and a
    * flat profile in a supposedly organic feed is the same kind of
    * tripwire as uniform first digits).
    *
    * All-integer: with o_d the day-d count and n the total, the χ²
    * statistic Σ (o_d − n/7)²/(n/7) rescales to Σ (7·o_d − n)² /
    * (7·n) — numerator and denominator exact BIGINTs, one floor
    * division to micros at the end. Day-of-week comes from the epoch
    * DAY NUMBER mod 7 (1970-01-01 was a Thursday; dow 0 = Thursday
    * by this convention, documented) — a pure integer rule identical
    * on both engines, no locale-dependent date function anywhere.
    * The spelling is TOTAL over signed epochs: pmod by the week
    * first, then divide — Spark's truncating `div` and `%` would
    * disagree with the oracle's floor `//` for pre-1970 dates (the
    * fdiv lesson), so the week-pmod keeps the numerator nonnegative
    * where truncation ≡ floor, mirrored text-for-text in the oracle.
    * One projection + a 7-row aggregation. */
  def weekdayAudit(orders: DataFrame): DataFrame =
    orders
      .withColumn("dow",
        expr("pmod(unix_micros(CAST(o_orderdate AS TIMESTAMP)), 604800000000) div 86400000000"))
      .groupBy("dow")
      .agg(count(lit(1)).as("n_orders"))
      .withColumn("n", sum(col("n_orders")).over(
        org.apache.spark.sql.expressions.Window.partitionBy()))
      .withColumn("share_micros", expr("n_orders * 1000000 div n"))
      .withColumn("chi2_term_q", expr(
        "(7 * n_orders - n) * (7 * n_orders - n) * 1000000 div (7 * n)"))
      .select("dow", "n_orders", "share_micros", "chi2_term_q")
      .orderBy("dow")

  /** q257 — UNBOUNDED-FLOAT quantiles by exponent-bucketed histogram:
    * the scale-safe percentile operator for a float metric column with
    * UNKNOWN range — the gap q129/q148/q228/q253 left open (each
    * requires an integer- or bounded-range axis; q40/q51 are exact
    * corpus sorts). The axis here is the float's OWN floating-point
    * grid: bucket = (sign, exponent, top `k` mantissa bits), at most
    * ~2100·2^k buckets over the ENTIRE double range with relative
    * bucket width 2^−k — so the histogram is bounded whatever the
    * data, and p50/p95 ride the q129 boundary rule (min bucket with
    * 100·cum ≥ p·n) with a guaranteed relative error ≤ 2^−k.
    *
    * Cross-engine exactness WITHOUT bit ops: the exponent is SEEDED
    * with float log2 (engines may disagree by 1 ULP near powers of
    * two) and then CORRECTED exactly — e is the unique integer with
    * 2^e ≤ m < 2^(e+1), checked via pow(2, e), which is exact for
    * integral exponents on both engines (the value is representable;
    * IEEE pow is correctly rounded). The mantissa top is then
    * floor(m / 2^(e−k)) — a power-of-two scale, exact in float64 — so
    * every bucket id and every emitted bucket edge is bit-identical
    * in Spark and DuckDB even where their libm's log2 differ.
    * Encoding is order-preserving: bid = sign·((e+1075)·2^(k+1) + top),
    * zero → bucket 0; e clamps at −1022+k so the subnormal tail packs
    * into the lowest exponent row instead of dividing by a
    * denormal-underflowed zero. NaN/±Inf are excluded from the
    * population (documented domain: finite doubles).
    *
    * Shape: one row-local projection, one bounded-axis aggregation,
    * cumsum windows over the bounded histogram only, and two
    * broadcast-sized joins to surface the chosen buckets' exact
    * edges. Nothing corpus-sized is ever sorted. */
  /** q257's BUCKET stage as its own relation — (x, bid, lo, hi) per
    * finite input value — exposed so the monotone-encoding and
    * containment laws are property-testable directly (the quantile
    * pick above it is three lines of boundary rule). See
    * [[floatQuantiles]] for the full contract. */
  private[graft] def floatBuckets(df: DataFrame, valueCol: String,
      k: Int = 8): DataFrame = {
    val eMin = -1022L + k
    val width = 1L << (k + 1)
    df.select(col(valueCol).cast("double").as("x"))
      .where(col("x").isNotNull && !isnan(col("x")) &&
        abs(col("x")) =!= Double.PositiveInfinity)
      .withColumn("m", abs(col("x")))
      .withColumn("e0",
        when(col("m") > 0.0, floor(log2(col("m"))).cast("long")).otherwise(0L))
      .withColumn("e1", when(col("m") > 0.0,
        when(pow(lit(2.0), (col("e0") + 1L).cast("double")) <= col("m"),
          col("e0") + 1L)
          .when(pow(lit(2.0), col("e0").cast("double")) > col("m"),
            col("e0") - 1L)
          .otherwise(col("e0"))).otherwise(0L))
      .withColumn("e", greatest(col("e1"), lit(eMin)))
      .withColumn("p2", pow(lit(2.0), (col("e") - k).cast("double")))
      .withColumn("top",
        when(col("m") > 0.0, floor(col("m") / col("p2")).cast("long"))
          .otherwise(0L))
      .withColumn("bid", when(col("x") === 0.0, lit(0L)).otherwise(
        signum(col("x")).cast("long") *
          ((col("e") + 1075L) * width + col("top"))))
      .withColumn("lo", when(col("x") === 0.0, lit(0.0))
        .when(col("x") > 0.0, col("top") * col("p2"))
        .otherwise(-(col("top") + 1L) * col("p2")))
      .withColumn("hi", when(col("x") === 0.0, lit(0.0))
        .when(col("x") > 0.0, (col("top") + 1L) * col("p2"))
        .otherwise(-col("top") * col("p2")))
      .select("x", "bid", "lo", "hi")
  }

  /** The bounded bucket HISTOGRAM of a float column — q257's state,
    * split out because it is ADDITIVE: (bid, cnt, lo, hi) rows from
    * disjoint slices merge by summing cnt per bid (lo/hi are
    * deterministic functions of bid, so max is the identity), which
    * is exactly what makes the ONLINE quantile path possible — each
    * streamed epoch lands its batch partial and one fold re-closes
    * the state (`EventStreams.floatHistSink`, the nbStateDelta
    * pattern applied to percentiles). */
  private[graft] def floatHistogram(df: DataFrame, valueCol: String,
      k: Int = 8): DataFrame =
    floatBuckets(df, valueCol, k).groupBy("bid")
      .agg(count(lit(1)).as("cnt"), max(col("lo")).as("lo"),
        max(col("hi")).as("hi"))

  def floatQuantiles(df: DataFrame, valueCol: String, k: Int = 8): DataFrame = {
    // THREE consumers read the bounded histogram (the cumsum chain and
    // both edge joins): checkpoint it so the corpus scan runs once —
    // without this the plan re-scans the table per broadcast side
    // (eager mode only; the audit path keeps the lazy plan)
    val hist0 = floatHistogram(df, valueCol, k)
    val hist = if (Dedup.eagerMaterialize(df)) hist0.localCheckpoint(true)
      else hist0
    quantilesOfHistogram(hist)
  }

  /** p50/p95 by the q129 boundary rule over an ALREADY-AGGREGATED
    * (bid, cnt, lo, hi) histogram — shared by the batch operator
    * above and the streamed fold (`EventStreams.onlineFloatQuantiles`),
    * so stream ≡ batch is the same three lines of boundary rule over
    * the same additive state. The unpartitioned windows run over the
    * BOUNDED bucket relation (≤ ~2100·2⁸ rows), never the corpus. */
  private[graft] def quantilesOfHistogram(hist: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy("bid")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist
      .withColumn("cum", sum(col("cnt")).over(w))
      .withColumn("n", sum(col("cnt")).over(
        Window.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)))
    def pickBid(p: Int) =
      min(when(col("cum") * 100 >= col("n") * p, col("bid"))).as(s"p${p}_bid")
    val picked = cum.groupBy("n").agg(pickBid(50), pickBid(95))
    val edges = hist.select("bid", "lo", "hi")
    picked
      .join(broadcast(edges.select(col("bid").as("p50_bid"),
        col("lo").as("p50_lo"), col("hi").as("p50_hi"))), "p50_bid")
      .join(broadcast(edges.select(col("bid").as("p95_bid"),
        col("lo").as("p95_lo"), col("hi").as("p95_hi"))), "p95_bid")
      .select(col("n"), col("p50_bid"), col("p50_lo"), col("p50_hi"),
        col("p95_bid"), col("p95_lo"), col("p95_hi"))
  }

  /** q246 — Benford first-digit audit: the distribution of the first
    * significant digit of order totals against Benford's law — the
    * classic fabricated-data tripwire (organic monetary amounts follow
    * log10(1+1/d); synthetic or truncated ones don't), a data-quality
    * probe alongside q201's constraint classes. The verdict column is
    * deliberately NOT emitted as a boolean — the relation reports the
    * per-digit gap and leaves the threshold to the auditor.
    *
    * Cross-engine exactness: cents = floor(price·100 + 0.5) is the
    * same float64 computation on both engines (no round(): Spark
    * HALF_UP vs DuckDB's rounding could disagree at exact halves);
    * the first digit comes from the BIGINT's decimal string (no
    * float log10 of the VALUE anywhere). The Benford expectation
    * itself is ln(1+1/d)/ln(10), floor-quantized to micros — nine
    * constants computed with the same double ops both sides (the
    * shared quantized-ln convention). One row-local projection, one
    * 9-row aggregation — nothing else. */
  def benfordAudit(orders: DataFrame): DataFrame =
    orders
      .withColumn("cents",
        floor(col("o_totalprice") * 100.0 + 0.5).cast("long"))
      .where(col("cents") > 0L)
      .withColumn("d", substring(col("cents").cast("string"), 1, 1).cast("long"))
      .groupBy("d")
      .agg(count(lit(1)).as("n"))
      .withColumn("total", sum(col("n")).over(
        org.apache.spark.sql.expressions.Window.partitionBy()))
      .withColumn("share_micros", expr("n * 1000000 div total"))
      .withColumn("benford_micros",
        floor(log(lit(1.0) + lit(1.0) / col("d").cast("double")) /
          log(lit(10.0)) * 1e6).cast("long"))
      .withColumn("gap_micros",
        abs(col("share_micros") - col("benford_micros")))
      .select("d", "n", "share_micros", "benford_micros", "gap_micros")
      .orderBy("d")
}
