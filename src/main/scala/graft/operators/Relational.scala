package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables._

/** Relational operator coverage (scan/filter/project, hash agg, joins of
  * every flavor, windows, rollup, set ops, scalar functions) expressed
  * Catalyst-first so pushdown/pruning/broadcast come for free.
  *
  * Cross-engine determinism rules (DuckDB oracle must hash-match):
  *  - every SUM over a double column is cast to DECIMAL first (exact),
  *    and the final column is cast to an explicit DECIMAL(p,s) so both
  *    engines emit the same scale;
  *  - timestamps are emitted as formatted strings, never raw;
  *  - every ORDER BY ... LIMIT has a unique tie-break key;
  *  - no AVG (DuckDB returns double for decimal avg) — emit sum+count.
  */
object Relational extends QueryFamily {

  /** q32's conf scope, shared with PlanAuditSpec's bloom pin so the test
    * can never drift from the shipped query: broadcast off (a broadcast
    * join subsumes the runtime filter), application-side size floor
    * dropped so injection triggers at test scale. */
  private[graft] val BloomJoinConfs: Seq[(String, String)] = Seq(
    "spark.sql.autoBroadcastJoinThreshold" -> "-1",
    "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB")

  /** q32's join, conf-free: a selective urgent-finished order filter on
    * the creation side, the lineitem fact on the application side — the
    * shape InjectRuntimeFilter turns into a Bloom pre-shuffle prune.
    * Separated from the query's conf scope so PlanAuditSpec can pin the
    * bloom markers on this exact plan under the same configuration. */
  private[graft] def bloomJoinFrame(s: SparkSession, d: String): DataFrame = {
    val ord = orders(s, d)
      .filter(col("o_orderpriority") === "1-URGENT" &&
        col("o_orderstatus") === "F")
      .select(col("o_orderkey"), col("o_orderpriority"))
    lineitem(s, d)
      .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_quantity").cast(D2)).cast("decimal(38,2)")
          .cast("double").as("sum_qty"))
  }
  private val D2 = "decimal(18,2)"

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // -- TPC-H Q1 shape: THE partial+final hash aggregation ---------------
    "q1_agg" -> ((s, d) => {
      lineitem(s, d)
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast(D2)).cast("decimal(38,2)").cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast(D2)).cast("decimal(38,2)").cast("double").as("sum_base_price"),
          sum((col("l_extendedprice").cast(D2) * (lit(1).cast(D2) - col("l_discount").cast(D2)))
            .cast("decimal(38,4)")).cast("decimal(38,4)").cast("double").as("sum_disc_price"),
          count(lit(1)).as("count_order"))
    }),

    // -- projection + predicate that must reach the parquet scan ----------
    "q2_pushdown_scan" -> ((s, d) => {
      lineitem(s, d)
        .filter(col("l_shipdate") >= lit("2000-01-01").cast("timestamp") &&
          col("l_quantity") > 45)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").cast(D2).cast("double").as("qty"))
    }),

    // -- TPC-H Q3 shape: 3-way join + agg + deterministic top-k -----------
    "q3_top_orders" -> ((s, d) => {
      val c = customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      val o = orders(s, d).filter(col("o_orderdate") < lit("1999-01-01").cast("timestamp"))
      val l = lineitem(s, d).filter(col("l_shipdate") > lit("1996-06-30").cast("timestamp"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .groupBy(col("o_orderkey"), col("o_orderdate"))
        .agg(sum((col("l_extendedprice").cast(D2) * (lit(1).cast(D2) - col("l_discount").cast(D2)))
          .cast("decimal(38,4)")).cast("decimal(38,4)").cast("double").as("revenue"))
        .select(col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"), col("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(10)
    }),

    // -- TPC-H Q5 shape: 6-way join, small dims broadcast ------------------
    "q5_nation_revenue" -> ((s, d) => {
      val r = region(s, d).filter(col("r_name") === "ASIA")
      val n = nation(s, d)
      val sup = supplier(s, d)
      val c = customer(s, d)
      val o = orders(s, d).filter(
        col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      val l = lineitem(s, d)
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(sum((col("l_extendedprice").cast(D2) * (lit(1).cast(D2) - col("l_discount").cast(D2)))
          .cast("decimal(38,4)")).cast("decimal(38,4)").cast("double").as("revenue"))
    }),

    // -- TPC-H Q6 shape: single-row scalar aggregate -----------------------
    "q6_forecast" -> ((s, d) => {
      lineitem(s, d)
        .filter(
          col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1998-01-01").cast("timestamp") &&
            col("l_discount").cast(D2).between(lit(0.05).cast(D2), lit(0.07).cast(D2)) &&
            col("l_quantity") < 24)
        .agg(sum((col("l_extendedprice").cast(D2) * col("l_discount").cast(D2))
          .cast("decimal(38,4)")).cast("decimal(38,4)").cast("double").as("revenue"))
    }),

    // -- window: top-3 orders per customer by totalprice -------------------
    "q7_window_rank" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      orders(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("rn").cast("long").as("rn"))
    }),

    // -- rollup (grouping sets) -------------------------------------------
    "q8_rollup" -> ((s, d) => {
      // two-phase rollup: collapse the fact table to the (flag, status)
      // key vocabulary FIRST (one ordinary partial-agg shuffle), then
      // ROLLUP over the ~25-row aggregate — the Expand row multiplication
      // (x3 here, x4 for CUBE) runs over the vocabulary, never the fact
      // table. At 100 TB that is the difference between expanding 25 rows
      // and expanding every scanned row before the partial agg.
      val pre = lineitem(s, d)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("pn"), sum(col("l_quantity").cast(D2)).as("ps"))
      pre.rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("pn")).as("n"),
          sum(col("ps")).cast("decimal(38,2)").cast("double").as("sum_qty"))
    }),

    // -- cube: all grouping-set combinations in one pass -------------------
    // (rollup's sibling; Spark expands the sets and aggregates partially
    // map-side exactly as for a plain groupBy — no extra shuffle per set)
    "q19_cube" -> ((s, d) => {
      // two-phase (see q8): CUBE's x4 Expand runs over the pre-aggregated
      // key vocabulary, not the fact table
      val pre = lineitem(s, d)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("pn"), sum(col("l_quantity").cast(D2)).as("ps"))
      pre.cube(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("pn")).as("n"),
          sum(col("ps")).cast("decimal(38,2)").cast("double").as("sum_qty"))
    }),

    // -- GROUPING SETS: arbitrary set combos (rollup/cube's general form) --
    // includes GROUPING() markers so the per-set provenance is explicit
    "q21_grouping_sets" -> ((s, d) => {
      // two-phase (see q8): the grouping-sets Expand runs over the
      // pre-aggregated key vocabulary; GROUPING() markers are unaffected
      lineitem(s, d)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("pn"))
        .createOrReplaceTempView("lineitem_pre_v")
      s.sql(
        """SELECT l_returnflag, l_linestatus,
          |  GROUPING(l_returnflag) AS g_rf, GROUPING(l_linestatus) AS g_ls,
          |  SUM(pn) AS n
          |FROM lineitem_pre_v
          |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""".stripMargin)
    }),

    // -- window-function battery: lag/lead/ntile/cume_dist -----------------
    // per-customer order history; the (date, key) order is unique, so
    // every function is deterministic incl. cume_dist under no ties
    "q20_window_funcs" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      orders(s, d).select(
        col("o_custkey"), col("o_orderkey"),
        round(lag(col("o_totalprice"), 1).over(w), 2).as("prev_price"),
        round(lead(col("o_totalprice"), 1).over(w), 2).as("next_price"),
        ntile(4).over(w).cast("long").as("quartile"),
        round(cume_dist().over(w), 6).as("cd"))
    }),

    // -- anti join: customers with no orders in 2001 -----------------------
    "q9_anti_join" -> ((s, d) => {
      val o2001 = orders(s, d).filter(
        col("o_orderdate") >= lit("2001-01-01").cast("timestamp"))
      customer(s, d)
        .join(o2001, col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
    }),

    // -- semi join: brands of parts that ever shipped qty 50 ---------------
    "q10_semi_join" -> ((s, d) => {
      val hot = lineitem(s, d).filter(col("l_quantity") >= 50)
      part(s, d)
        .join(hot, col("p_partkey") === col("l_partkey"), "left_semi")
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_parts"))
    }),

    // -- set ops: INTERSECT / EXCEPT on distinct keys ----------------------
    "q11_setops" -> ((s, d) => {
      val o = orders(s, d)
      val f = o.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
      val oo = o.filter(col("o_orderstatus") === "O").select(col("o_custkey"))
      val p = o.filter(col("o_orderstatus") === "P").select(col("o_custkey"))
      f.intersect(oo).except(p).select(col("o_custkey").as("custkey"))
    }),

    // -- q31: BAG-semantics set ops (EXCEPT ALL / INTERSECT ALL) -----------
    // q11 covers the SET forms; the ALL forms keep multiplicity — the
    // semantics reconciliation jobs need ("how many copies remain after
    // subtracting the acknowledged batch"), where DISTINCT forms silently
    // collapse duplicates. Catalyst plans both as hash joins with count
    // bookkeeping — no sort, no cartesian — so the shape scales like any
    // equi-join on the key.
    "q31_setops_all" -> ((s, d) => {
      val li = lineitem(s, d)
      val bulk = li.filter(col("l_quantity") > 30).select(col("l_suppkey"))
      val returned = li.filter(col("l_returnflag") === "R")
        .select(col("l_suppkey"))
      bulk.exceptAll(returned)
        .groupBy(col("l_suppkey").as("suppkey"))
        .agg(count(lit(1)).as("surplus"))
    }),

    // -- scalar function battery (string/math) -----------------------------
    "q12_scalar_funcs" -> ((s, d) => {
      part(s, d).select(
        col("p_partkey"),
        upper(col("p_brand")).as("u"),
        substring(col("p_name"), 1, 8).as("s8"),
        length(col("p_type")).as("lt"),
        (col("p_size") % 7).as("m7"),
        abs(col("p_size") - 25).as("a25"),
        concat_ws("|", col("p_brand"), col("p_type")).as("bt"))
    }),

    // -- group-by + having -------------------------------------------------
    "q13_having" -> ((s, d) => {
      orders(s, d)
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(D2)).cast("decimal(38,2)").cast("double").as("spend"))
        .filter(col("n_orders") >= 12)
    }),

    // -- pivot (conditional aggregation surface) ---------------------------
    "q15_pivot" -> ((s, d) => {
      import graft.Tables.events
      events(s, d)
        .withColumn("ubucket", col("user_id") % 10)
        .groupBy("ubucket")
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L)
    }),

    // -- UNPIVOT (melt): q15's inverse, wide matrix -> long triples --------
    // round-trips the pivoted event matrix back to (ubucket, event_type,
    // n) rows via Dataset.unpivot — the wide->long reshape every
    // metrics-table consumer needs; zero shuffle beyond q15's own
    // (unpivot is a per-row Expand, no exchange).
    "q27_unpivot" -> ((s, d) => {
      import graft.Tables.events
      val wide = events(s, d)
        .withColumn("ubucket", col("user_id") % 10)
        .groupBy("ubucket")
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L)
      wide.unpivot(Array(col("ubucket")),
        Array(col("click"), col("error"), col("purchase"), col("signup"),
          col("view")), "event_type", "n")
        // q15's fill(0) invents rows for combos absent from the data; the
        // long-form oracle (GROUP BY bucket, type) has no such rows
        .filter(col("n") > 0)
    }),

    // -- spark.sql() API surface: correlated EXISTS (TPC-H Q4 shape) -------
    "q16_sql_api" -> ((s, d) => {
      orders(s, d).createOrReplaceTempView("orders_v")
      lineitem(s, d).createOrReplaceTempView("lineitem_v")
      s.sql(
        """SELECT o_orderpriority, count(*) AS order_count
          |FROM orders_v
          |WHERE o_orderdate >= TIMESTAMP '1997-07-01'
          |  AND o_orderdate < TIMESTAMP '1997-10-01'
          |  AND EXISTS (SELECT 1 FROM lineitem_v
          |              WHERE l_orderkey = o_orderkey AND l_quantity > 48)
          |GROUP BY o_orderpriority""".stripMargin)
    }),

    // -- correlated LATERAL subquery (per-nation top-2 customers) ----------
    // the SQL-standard form of "top-N per group" (Spark 4's LATERAL
    // support); Catalyst rewrites the correlated limit into the same
    // window-rank plan q7 declares directly — one shuffle on the
    // correlation key, no per-nation scan. Deterministic: c_name is
    // unique, so (acctbal DESC, c_name) fully orders ties.
    "q24_lateral_topn" -> ((s, d) => {
      nation(s, d).createOrReplaceTempView("nation_v")
      customer(s, d).createOrReplaceTempView("customer_v")
      s.sql(
        """SELECT n.n_name, c.c_name, c.c_acctbal
          |FROM nation_v n, LATERAL (
          |  SELECT c_name, c_acctbal FROM customer_v
          |  WHERE c_nationkey = n.n_nationkey
          |  ORDER BY c_acctbal DESC, c_name LIMIT 2) c""".stripMargin)
    }),

    // -- recursive CTE calendar spine (gap-filled daily series) ------------
    // Spark 4's WITH RECURSIVE (UNION ALL form — Spark rejects the
    // dedup-fixpoint UNION, so only acyclic recursions terminate; the
    // spine is the canonical one): generate every day of 1997 Q1, left
    // join daily order counts, zero-fill the gap days — the time-series
    // densification every dashboard needs and a plain GROUP BY cannot
    // produce (missing days have no row to group). Recursion depth 90
    // stays under spark.sql's recursion limit; the spine is 90 rows, so
    // the join broadcasts it.
    "q25_recursive_spine" -> ((s, d) => {
      orders(s, d).createOrReplaceTempView("orders_r")
      s.sql(
        """WITH RECURSIVE days(day) AS (
          |  SELECT DATE '1997-01-01'
          |  UNION ALL
          |  SELECT day + INTERVAL '1' DAY FROM days WHERE day < DATE '1997-03-31'
          |),
          |daily AS (
          |  SELECT CAST(o_orderdate AS DATE) AS od, COUNT(*) AS n
          |  FROM orders_r
          |  WHERE o_orderdate >= TIMESTAMP '1997-01-01'
          |    AND o_orderdate < TIMESTAMP '1997-04-01'
          |  GROUP BY CAST(o_orderdate AS DATE))
          |SELECT date_format(day, 'yyyy-MM-dd') AS day, COALESCE(n, 0) AS n_orders
          |FROM days LEFT JOIN daily ON od = day""".stripMargin)
    }),

    // -- RANGE-frame trailing window (value-based, not row-based) ----------
    // the frame family q20 doesn't cover: per customer, the trailing
    // 90-DAY order total — RANGE frames bound by the ORDER-BY VALUE, so
    // ties share a frame and sparse histories window correctly where a
    // ROWS frame would count rows. Decimal-exact sums (the e1 pattern),
    // epoch-micro order key; the window partitions per customer (bounded
    // by one customer's history, never table-sized).
    // -- rank-analytics battery: ntile / percent_rank / cume_dist ----------
    // the remaining SQL:2003 window-rank functions (q7 covers row_number/
    // rank). Partitioned by o_custkey — HIGH-cardinality, so every task
    // sorts only one customer's orders (contrast q17's per-flag groups,
    // which need the two-phase form). The orderBy appends o_orderkey so
    // ties can't exist: ntile is row-position-dependent and percent_rank/
    // cume_dist are peer-group-dependent, so a total order is what makes
    // both engines bit-agree. The pr/cd doubles are (rank-1)/(n-1)-style
    // divisions of identical ints — IEEE-identical across engines.
    "q28_rank_analytics" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      orders(s, d).select(col("o_orderkey"), col("o_custkey"),
          col("o_orderdate"), col("o_totalprice"))
        .withColumn("quartile", ntile(4).over(w))
        .withColumn("pr", round(percent_rank().over(w), 6))
        .withColumn("cd", round(cume_dist().over(w), 6))
        .select("o_orderkey", "o_custkey", "quartile", "pr", "cd")
    }),

    // -- q29: FILTER-clause aggregates --------------------------------------
    // the SQL:2003 selective-aggregation surface: one pass computes every
    // conditional aggregate (count/sum per predicate) instead of N
    // self-joins or N scans — at 100 TB the difference between one fact
    // scan and five. Catalyst compiles each FILTER into the same
    // map-side-combinable partial agg a CASE WHEN would produce, so the
    // plan is a single partial+final hash aggregate over the scan.
    "q29_filter_agg" -> ((s, d) => {
      lineitem(s, d).createOrReplaceTempView("lineitem_v")
      s.sql(
        """SELECT l_returnflag,
          |  count(*) AS n_all,
          |  count(*) FILTER (WHERE l_quantity > 25) AS n_bulk,
          |  count(*) FILTER (WHERE l_discount >= 0.05) AS n_discounted,
          |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
          |       FILTER (WHERE l_tax > 0.04) AS DECIMAL(38,2)) AS taxed_revenue,
          |  count(DISTINCT l_suppkey) FILTER (WHERE l_quantity > 40)
          |    AS n_bulk_suppliers
          |FROM lineitem_v GROUP BY l_returnflag""".stripMargin)
    }),

    // -- q30: IGNORE NULLS forward fill (gap-fill) --------------------------
    // the time-series densification move: carry the last observed value
    // forward across gaps (sensor dropouts, sparse snapshots). last_value
    // IGNORE NULLS over a running frame is the one-pass distributed form —
    // partitioned by the (high-cardinality) entity key so each task fills
    // one entity's series; no self-join, no driver loop. Every third order
    // "reports" a price; the rest inherit the previous report. o_orderkey
    // appended to the ordering so both engines walk identical sequences.
    "q30_gap_fill" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      orders(s, d).select(col("o_custkey"), col("o_orderkey"),
          col("o_orderdate"),
          when(col("o_orderkey") % 3 === 0,
            col("o_totalprice").cast("decimal(18,2)")).as("reported"))
        .withColumn("filled",
          last(col("reported"), ignoreNulls = true).over(w)
            .cast("decimal(38,2)").cast("double"))
        .select("o_custkey", "o_orderkey", "filled")
    }),

    "q26_range_frame" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("ts"))
        .rangeBetween(-90L * 86400L * 1000000L, 0L)
      orders(s, d).select(col("o_custkey"), col("o_orderkey"),
          // o_orderdate is TIMESTAMP_NTZ; session tz is pinned UTC, so the
          // cast is the same wall-clock micros DuckDB's epoch_us computes
          unix_micros(col("o_orderdate").cast("timestamp")).as("ts"),
          col("o_totalprice").cast("decimal(18,2)").as("p"))
        .withColumn("trailing_90d",
          sum(col("p")).over(w).cast("decimal(38,2)").cast("double"))
        .select(col("o_custkey"), col("o_orderkey"), col("ts"),
          col("trailing_90d"))
    }),

    // -- exact discrete percentiles (p25/p50/p95) per group ----------------
    // INTEGER-ONLY rank math (ceil(q*n) as (n*q100 + 99) div 100): no FP
    // interpolation, so both engines select the identical element —
    // interpolating percentile() implementations disagree in the last ulp
    // across engines. Two-phase selection, NOT a per-group row sort (a
    // window partitioned by l_returnflag puts each group's ENTIRE row set
    // in one task — 6 tasks sort the whole table):
    //   1. coarse value-bucket histogram per group; its cumulative sum
    //      locates the bucket holding each rank. The window runs over
    //      (group, bucket) counts — bounded by the VALUE DOMAIN
    //      (price-range/1000 buckets), not by the data size.
    //   2. distinct-value histogram inside the <=3 target buckets only;
    //      its cumulative sum selects the rank's value. Bounded by the
    //      distinct 2-decimal prices inside one 1000-wide bucket (<=1e5)
    //      regardless of row count; truly continuous domains would recurse
    //      on narrower buckets instead.
    // The selected value at rank r is tie-order-independent, so the result
    // is bit-identical to the row_number form this replaces.
    "q17_percentiles" -> ((s, d) => {
      val base = lineitem(s, d).select(col("l_returnflag"), col("l_extendedprice"))
        .withColumn("bkt", floor(col("l_extendedprice") / 1000).cast("long"))
      val nPer = base.groupBy("l_returnflag").agg(count(lit(1)).as("n"))
      val targets = nPer.select(col("l_returnflag"), col("n"),
          explode(array(lit(25), lit(50), lit(95))).as("q"))
        .withColumn("r", expr("(n * q + 99) div 100"))
      val wb = Window.partitionBy("l_returnflag").orderBy("bkt")
      val cb = base.groupBy(col("l_returnflag"), col("bkt")).agg(count(lit(1)).as("cnt"))
        .withColumn("cumb", sum(col("cnt")).over(wb))
      val tgt = broadcast(targets.join(cb, "l_returnflag")
        .filter(col("cumb") >= col("r") && col("cumb") - col("cnt") < col("r"))
        .select(col("l_returnflag"), col("q"), col("bkt"),
          (col("r") - (col("cumb") - col("cnt"))).as("rr")))
      val wv = Window.partitionBy("l_returnflag", "bkt").orderBy("l_extendedprice")
      val fine = base.join(tgt.select("l_returnflag", "bkt").distinct(),
          Seq("l_returnflag", "bkt"))
        .groupBy(col("l_returnflag"), col("bkt"), col("l_extendedprice"))
        .agg(count(lit(1)).as("vc"))
        .withColumn("cumv", sum(col("vc")).over(wv))
      tgt.join(fine, Seq("l_returnflag", "bkt"))
        .filter(col("cumv") >= col("rr") && col("cumv") - col("vc") < col("rr"))
        .groupBy("l_returnflag")
        .agg(
          min(when(col("q") === 25, col("l_extendedprice"))).as("p25"),
          min(when(col("q") === 50, col("l_extendedprice"))).as("p50"),
          min(when(col("q") === 95, col("l_extendedprice"))).as("p95"))
        .join(nPer, "l_returnflag")
        .select(col("l_returnflag"), col("p25"), col("p50"), col("p95"), col("n"))
    }),

    // -- skew-salted join ([[Skew.saltedJoin]]): results identical to the
    // plain equi-join, but a hot supplier key's lineitem rows spread over
    // r=8 tasks — the explicit mitigation for when one key dominates so
    // badly that even AQE's split shuffle blocks overwhelm a task. The
    // oracle is the PLAIN join: salting must be invisible in the result.
    "q18_salted_join" -> ((s, d) => {
      val sup = supplier(s, d)
        .select(col("s_suppkey").as("l_suppkey"), col("s_name"))
      Skew.saltedJoin(lineitem(s, d), sup, "l_suppkey", r = 8)
        .groupBy(col("l_suppkey").as("suppkey"), col("s_name"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity").cast(D2)).cast("decimal(38,2)").cast("double").as("sum_qty"))
    }),

    // -- two-phase (salted) aggregation: result == plain GROUP BY ----------
    // 6 distinct return flags over 600k rows is exactly the dominant-key
    // shape; the oracle is the plain count — the salt must be invisible
    "q22_two_phase_count" -> ((s, d) =>
      Skew.twoPhaseCount(lineitem(s, d).select(col("l_returnflag")),
          "l_returnflag", r = 16)
        .select(col("l_returnflag"), col("n").cast("long").as("n"))),

    // -- full outer join: per-customer order rollup keeping both sides -----
    // customers with no orders AND (synthetic) order-groups with no
    // customer row both survive; COALESCE makes the null sides explicit
    "q23_full_outer" -> ((s, d) => {
      val cust = customer(s, d).filter(col("c_custkey") % 3 === 0)
        .select(col("c_custkey"), col("c_name"))
      val ord = orders(s, d).filter(col("o_custkey") % 2 === 0)
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders"))
      cust.join(ord, col("c_custkey") === col("o_custkey"), "full_outer")
        .select(
          coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
          coalesce(col("c_name"), lit("<no-cust-row>")).as("name"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"))
    }),

    // -- q32: RUNTIME BLOOM-FILTER join (InjectRuntimeFilter) ---------------
    // the shuffle-join analogue of f18's dynamic partition pruning: when a
    // selective filter sits on one join side, Catalyst builds a Bloom
    // filter of its join keys at runtime and pushes a might_contain()
    // probe into the OTHER side's scan, so the big side discards
    // non-joining rows BEFORE the shuffle instead of shipping them. At
    // 100 TB this is the difference between shuffling a full fact table
    // and shuffling the ~3% that can possibly join. Broadcast is disabled
    // for this query (a broadcast join subsumes the filter) and the
    // application-side size threshold dropped so the injection triggers
    // at test scale — on a real lake both defaults already fire.
    // PlanAuditSpec pins bloom_filter_agg + might_contain in the plan;
    // the result must equal the plain join (the filter is pure pruning).
    "q32_bloom_join" -> ((s, d) => {
      val confs = BloomJoinConfs
      val prev = confs.map { case (k, _) => k -> s.conf.getOption(k) }
      confs.foreach { case (k, v) => s.conf.set(k, v) }
      // the confs must be live at EXECUTION (InjectRuntimeFilter is an
      // optimizer rule), so the tiny post-agg result is materialized
      // eagerly inside the scope; the restored session never sees them
      try bloomJoinFrame(s, d).localCheckpoint()
      finally prev.foreach {
        case (k, Some(v)) => s.conf.set(k, v)
        case (k, None) => s.conf.unset(k)
      }
    }),

    // -- per-group arg-max via window (scalar-subquery shape) --------------
    "q14_top_account" -> ((s, d) => {
      val w = Window.partitionBy(col("c_nationkey"))
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
      customer(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .select(col("n_name"), col("c_custkey"), col("c_name"))
    })
  )

  def oracles: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_qty,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_base_price,
        |  CAST(CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS DOUBLE) AS sum_disc_price,
        |  COUNT(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q2_pushdown_scan" ->
      """SELECT l_orderkey, l_linenumber, CAST(CAST(l_quantity AS DECIMAL(18,2)) AS DOUBLE) AS qty
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '2000-01-01' AND l_quantity > 45""".stripMargin,
    "q3_top_orders" ->
      """SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
        |  CAST(CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS DOUBLE) AS revenue
        |FROM customer, orders, lineitem
        |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
        |  AND l_orderkey = o_orderkey
        |  AND o_orderdate < TIMESTAMP '1999-01-01'
        |  AND l_shipdate > TIMESTAMP '1996-06-30'
        |GROUP BY o_orderkey, o_orderdate
        |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin,
    "q5_nation_revenue" ->
      """SELECT n_name,
        |  CAST(CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS DOUBLE) AS revenue
        |FROM customer, orders, lineitem, supplier, nation, region
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY n_name""".stripMargin,
    "q6_forecast" ->
      """SELECT CAST(CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND CAST(l_discount AS DECIMAL(18,2)) BETWEEN CAST(0.05 AS DECIMAL(18,2)) AND CAST(0.07 AS DECIMAL(18,2))
        |  AND l_quantity < 24""".stripMargin,
    "q7_window_rank" ->
      """SELECT o_custkey, o_orderkey, rn FROM (
        |  SELECT o_custkey, o_orderkey,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) WHERE rn <= 3""".stripMargin,
    "q8_rollup" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,
    "q19_cube" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin,
    "q21_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
        |  GROUPING(l_returnflag) AS g_rf, GROUPING(l_linestatus) AS g_ls,
        |  COUNT(*) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""".stripMargin,
    "q20_window_funcs" ->
      """SELECT o_custkey, o_orderkey,
        |  round(lag(o_totalprice, 1) OVER w, 2) AS prev_price,
        |  round(lead(o_totalprice, 1) OVER w, 2) AS next_price,
        |  ntile(4) OVER w AS quartile,
        |  round(cume_dist() OVER w, 6) AS cd
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin,
    "q9_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderdate >= TIMESTAMP '2001-01-01')""".stripMargin,
    "q10_semi_join" ->
      """SELECT p_brand, COUNT(*) AS n_parts FROM part
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |  WHERE l_partkey = p_partkey AND l_quantity >= 50)
        |GROUP BY p_brand""".stripMargin,
    "q11_setops" ->
      """SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'P'""".stripMargin,
    "q12_scalar_funcs" ->
      """SELECT p_partkey, upper(p_brand) AS u, substr(p_name, 1, 8) AS s8,
        |  length(p_type) AS lt, p_size % 7 AS m7, abs(p_size - 25) AS a25,
        |  concat_ws('|', p_brand, p_type) AS bt
        |FROM part""".stripMargin,
    "q13_having" ->
      """SELECT o_custkey, COUNT(*) AS n_orders,
        |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS spend
        |FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 12""".stripMargin,
    "q15_pivot" ->
      """SELECT user_id % 10 AS ubucket,
        |  COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS click,
        |  COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS error,
        |  COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
        |  COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
        |  COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS view
        |FROM events GROUP BY user_id % 10""".stripMargin,
    "q27_unpivot" ->
      """SELECT user_id % 10 AS ubucket, event_type,
        |  CAST(COUNT(*) AS BIGINT) AS n
        |FROM events GROUP BY user_id % 10, event_type""".stripMargin,
    "q16_sql_api" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-07-01'
        |  AND o_orderdate < TIMESTAMP '1997-10-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_quantity > 48)
        |GROUP BY o_orderpriority""".stripMargin,
    "q31_setops_all" ->
      """WITH sh AS (SELECT l_suppkey FROM lineitem WHERE l_quantity > 30),
        |rt AS (SELECT l_suppkey FROM lineitem WHERE l_returnflag = 'R'),
        |ex AS (SELECT l_suppkey FROM sh EXCEPT ALL SELECT l_suppkey FROM rt)
        |SELECT l_suppkey AS suppkey, COUNT(*) AS surplus
        |FROM ex GROUP BY 1""".stripMargin,
    "q29_filter_agg" ->
      """SELECT l_returnflag,
        |  count(*) AS n_all,
        |  count(*) FILTER (WHERE l_quantity > 25) AS n_bulk,
        |  count(*) FILTER (WHERE l_discount >= 0.05) AS n_discounted,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
        |       FILTER (WHERE l_tax > 0.04) AS DECIMAL(38,2)) AS taxed_revenue,
        |  count(DISTINCT l_suppkey) FILTER (WHERE l_quantity > 40)
        |    AS n_bulk_suppliers
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "q30_gap_fill" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(CAST(last_value(CASE WHEN o_orderkey % 3 = 0
        |         THEN CAST(o_totalprice AS DECIMAL(18,2)) END IGNORE NULLS)
        |    OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS DECIMAL(38,2)) AS DOUBLE) AS filled
        |FROM orders""".stripMargin,
    "q24_lateral_topn" ->
      """SELECT n.n_name, c.c_name, c.c_acctbal
        |FROM nation n, LATERAL (
        |  SELECT c_name, c_acctbal FROM customer
        |  WHERE c_nationkey = n.n_nationkey
        |  ORDER BY c_acctbal DESC, c_name LIMIT 2) c""".stripMargin,
    "q28_rank_analytics" ->
      """SELECT o_orderkey, o_custkey,
        |  ntile(4) OVER w AS quartile,
        |  round(percent_rank() OVER w, 6) AS pr,
        |  round(cume_dist() OVER w, 6) AS cd
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin,
    "q26_range_frame" ->
      """SELECT o_custkey, o_orderkey, epoch_us(o_orderdate) AS ts,
        |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |    PARTITION BY o_custkey ORDER BY epoch_us(o_orderdate)
        |    RANGE BETWEEN 7776000000000 PRECEDING AND CURRENT ROW)
        |    AS DECIMAL(38,2)) AS DOUBLE) AS trailing_90d
        |FROM orders""".stripMargin,
    "q25_recursive_spine" ->
      """WITH RECURSIVE days(day) AS (
        |  SELECT DATE '1997-01-01'
        |  UNION ALL
        |  SELECT day + INTERVAL 1 DAY FROM days WHERE day < DATE '1997-03-31'
        |),
        |daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS od, COUNT(*) AS n
        |  FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |    AND o_orderdate < TIMESTAMP '1997-04-01'
        |  GROUP BY CAST(o_orderdate AS DATE))
        |SELECT strftime(CAST(day AS DATE), '%Y-%m-%d') AS day,
        |  COALESCE(n, 0) AS n_orders
        |FROM days LEFT JOIN daily ON od = day""".stripMargin,
    "q14_top_account" ->
      """SELECT n_name, c_custkey, c_name FROM (
        |  SELECT c_nationkey, c_custkey, c_name,
        |    ROW_NUMBER() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS rn
        |  FROM customer) c JOIN nation ON c_nationkey = n_nationkey
        |WHERE rn = 1""".stripMargin,
    "q17_percentiles" ->
      """WITH b AS (SELECT l_returnflag, l_extendedprice,
        |  ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice) AS rn,
        |  COUNT(*) OVER (PARTITION BY l_returnflag) AS n
        |  FROM lineitem)
        |SELECT l_returnflag,
        |  MIN(CASE WHEN rn = (n * 25 + 99) // 100 THEN l_extendedprice END) AS p25,
        |  MIN(CASE WHEN rn = (n * 50 + 99) // 100 THEN l_extendedprice END) AS p50,
        |  MIN(CASE WHEN rn = (n * 95 + 99) // 100 THEN l_extendedprice END) AS p95,
        |  MAX(n) AS n
        |FROM b GROUP BY l_returnflag""".stripMargin,
    "q22_two_phase_count" ->
      """SELECT l_returnflag, COUNT(*) AS n FROM lineitem GROUP BY l_returnflag""",
    "q23_full_outer" ->
      """WITH cust AS (SELECT c_custkey, c_name FROM customer WHERE c_custkey % 3 = 0),
        |ord AS (SELECT o_custkey, COUNT(*) AS n_orders FROM orders
        |        WHERE o_custkey % 2 = 0 GROUP BY o_custkey)
        |SELECT COALESCE(c_custkey, o_custkey) AS custkey,
        |  COALESCE(c_name, '<no-cust-row>') AS name,
        |  COALESCE(n_orders, 0) AS n_orders
        |FROM cust FULL OUTER JOIN ord ON c_custkey = o_custkey""".stripMargin,
    "q18_salted_join" ->
      """SELECT l.l_suppkey AS suppkey, s.s_name,
        |  COUNT(*) AS n_items,
        |  CAST(CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_qty
        |FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |GROUP BY l.l_suppkey, s.s_name""".stripMargin,
    // the bloom filter is pure pruning — the result is the plain join
    "q32_bloom_join" ->
      """SELECT l_returnflag, COUNT(*) AS n_items,
        |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT' AND o_orderstatus = 'F'
        |GROUP BY l_returnflag""".stripMargin
  )
}
