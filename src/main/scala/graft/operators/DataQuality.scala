package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables._

/** Data-quality / validation layer — the pre-training-ingest audit a
  * 100 TB pipeline runs before any corpus or fact table is trusted
  * (Deequ-style declarative constraints, referential-integrity audits,
  * partition-continuity checks).
  *
  * Scale design:
  *  - dq1's row-local constraints are ONE full scan: every verdict is a
  *    conditional `sum(when(...))` inside a single aggregate, so the map
  *    side collapses each partition to one partial row regardless of
  *    table size. Only the uniqueness constraint needs a keyed shuffle
  *    (groupBy the key pair, count>1), and its map-side partial agg means
  *    the shuffle carries at most one row per distinct key per partition.
  *  - dq2's orphan audits are anti-joins on the FK — the parent side is
  *    first collapsed to its distinct key (map-side combine), so the join
  *    input is keys, not rows; Catalyst broadcasts it when small and AQE
  *    handles skewed FKs at runtime.
  *  - dq3 aggregates events to one row per calendar day FIRST; the gap
  *    window then runs over day counts (bounded by the calendar), never
  *    raw events.
  * Results are constraint-per-row reports, bounded by the number of
  * declared checks — nothing scales with table volume after the scan.
  */
object DataQuality extends QueryFamily {

  /** One-scan conditional-aggregate constraint report over lineitem plus a
    * keyed uniqueness check; one row per constraint. */
  def lineitemConstraints(li: DataFrame): DataFrame = {
    def violations(pred: Column): Column =
      sum(when(pred, 1L).otherwise(0L))
    // row-local constraints: a single scan, one wide partial-aggregated row
    val wide = li.agg(
      count(lit(1)).as("n_rows"),
      violations(col("l_orderkey").isNull).as("v_not_null_orderkey"),
      violations(!col("l_quantity").between(1, 50) ||
        col("l_quantity").isNull).as("v_range_quantity"),
      violations(!col("l_discount").between(0.0, 0.10) ||
        col("l_discount").isNull).as("v_range_discount"),
      violations(!col("l_returnflag").isin("A", "N", "R") ||
        col("l_returnflag").isNull).as("v_set_returnflag"),
      violations(col("l_extendedprice") <= 0 ||
        col("l_extendedprice").isNull).as("v_positive_price"),
      violations(col("l_shipdate").isNull ||
        col("l_shipdate") < lit("1992-01-01").cast("timestamp") ||
        col("l_shipdate") >= lit("2000-01-01").cast("timestamp"))
        .as("v_range_shipdate"))
    val scanChecks = wide.select(expr(
      """stack(6,
        |  'not_null:l_orderkey',        v_not_null_orderkey,
        |  'range:l_quantity[1,50]',     v_range_quantity,
        |  'range:l_discount[0,0.1]',    v_range_discount,
        |  'in_set:l_returnflag{A,N,R}', v_set_returnflag,
        |  'positive:l_extendedprice',   v_positive_price,
        |  'range:l_shipdate[1992,2000)',v_range_shipdate
        |) AS (check_name, violations)""".stripMargin),
      col("n_rows"))
    // keyed constraint: (l_orderkey, l_linenumber) must be unique; a
    // duplicate group of size c contributes c-1 violation rows
    val dup = li.groupBy(col("l_orderkey"), col("l_linenumber"))
      .agg(count(lit(1)).as("c"))
      .agg(coalesce(sum(when(col("c") > 1, col("c") - 1).otherwise(0L)), lit(0L))
          .as("violations"),
        coalesce(sum(col("c")), lit(0L)).as("n_rows"))
      .select(lit("unique:(l_orderkey,l_linenumber)").as("check_name"),
        col("violations"), col("n_rows"))
    scanChecks.unionByName(dup)
      .withColumn("pass", when(col("violations") === 0, 1).otherwise(0))
  }

  /** Referential-integrity audit: one row per declared relationship with
    * orphan row/key counts and parent-coverage. */
  def referentialAudit(li: DataFrame, ord: DataFrame,
                       cust: DataFrame): DataFrame = {
    def fk(child: DataFrame, childKey: String, parent: DataFrame,
           parentKey: String, rel: String): DataFrame = {
      // null FKs are the not_null constraint's concern, not orphanhood —
      // and SQL NOT IN drops them, so the engine must too
      val parentKeys = parent.select(col(parentKey).as(childKey)).distinct()
      val orphans = child.select(col(childKey))
        .filter(col(childKey).isNotNull)
        .join(parentKeys, Seq(childKey), "left_anti")
      orphans.agg(
        count(lit(1)).as("orphan_rows"),
        count_distinct(col(childKey)).as("orphan_keys"))
        .select(lit(rel).as("rel"), col("orphan_rows"), col("orphan_keys"))
    }
    // childless parents: orders no lineitem ever references
    val childless = ord.select(col("o_orderkey"))
      .filter(col("o_orderkey").isNotNull)
      .join(li.select(col("l_orderkey").as("o_orderkey")).distinct(),
        Seq("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("orphan_rows"))
      .select(lit("orders_without_lineitem").as("rel"),
        col("orphan_rows"), col("orphan_rows").as("orphan_keys"))
    fk(li, "l_orderkey", ord, "o_orderkey", "lineitem->orders")
      .unionByName(fk(ord, "o_custkey", cust, "c_custkey", "orders->customer"))
      .unionByName(childless)
  }

  /** Calendar-continuity audit over the events table: collapse to one row
    * per day first, then find gaps with a lag over the day spine. */
  def continuityAudit(ev: DataFrame): DataFrame = {
    val daily = ev.select(to_date(col("ts")).as("day"))
      .groupBy("day").agg(count(lit(1)).as("n"))
    val w = Window.orderBy(col("day"))
    val gaps = daily
      .withColumn("gap", datediff(col("day"), lag(col("day"), 1).over(w)))
    gaps.agg(
      count(lit(1)).as("n_days"),
      min(col("day")).cast("string").as("first_day"),
      max(col("day")).cast("string").as("last_day"),
      coalesce(sum(when(col("gap") > 1, col("gap") - 1).otherwise(0L)), lit(0L))
        .as("missing_days"),
      coalesce(max(col("gap")), lit(1)).cast("long").as("max_gap"),
      sum(col("n")).as("n_events"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // -- dq1: declarative constraint suite, one scan + one keyed check ----
    "dq1_constraints" -> ((s, d) => lineitemConstraints(lineitem(s, d))),
    // -- dq2: FK orphan / coverage audit over the star schema -------------
    "dq2_referential" -> ((s, d) =>
      referentialAudit(lineitem(s, d), orders(s, d), customer(s, d))),
    // -- dq3: event-time calendar continuity ------------------------------
    "dq3_continuity" -> ((s, d) => continuityAudit(events(s, d))),

    // -- dq5: corrupt-record QUARANTINE routing ----------------------------
    // the ingest-boundary pattern every production loader needs: parse
    // dirty delimited input in PERMISSIVE mode, route rows that fail the
    // schema to a quarantine sidecar (raw line preserved for forensics),
    // and let the clean rows flow — one malformed row must never abort a
    // 100 TB load (FAILFAST) or silently vanish (DROPMALFORMED). The
    // dirty input is fabricated from documents (every 13th doc_id gets an
    // unparseable key), the quarantine lands as a parquet sidecar via an
    // ordinary distributed write, and the gated report accounts for both
    // populations — so a loader that dropped, double-counted, or
    // mis-routed a row hash-mismatches. DataQualitySpec pins the sidecar
    // contents (exactly the malformed raw lines).
    "dq5_quarantine" -> ((s, d) => {
      import org.apache.spark.sql.types._
      val root = s"${graft.Scratch.dir(d)}/dq5"
      documents(s, d).select(concat_ws(",",
          when(col("doc_id") % 13 === 0, concat(lit("X"), col("doc_id")))
            .otherwise(col("doc_id").cast("string")),
          col("lang"), col("n_chars")).as("value"))
        .write.mode("overwrite").text(s"$root/dirty_csv")
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("lang", StringType),
        StructField("n_chars", LongType), StructField("_bad", StringType)))
      val parsed = s.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_bad")
        .csv(s"$root/dirty_csv")
        .cache()
      parsed.filter(col("_bad").isNotNull).select(col("_bad").as("raw_line"))
        .write.mode("overwrite").parquet(s"$root/quarantine")
      // the cache is LOAD-BEARING for corrupt detection, not just the
      // corrupt-column-only projection above: an uncached re-execution
      // prunes the CSV parse to the referenced columns, so a malformed
      // doc_id never fails and _bad stays NULL. The good aggregate is
      // therefore materialized EAGERLY while the cache is live, and the
      // cache released before returning (a leaked cache would survive
      // every bench retime).
      val good = parsed.filter(col("_bad").isNull)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
        .localCheckpoint()
      parsed.unpersist()
      val bad = s.read.parquet(s"$root/quarantine")
        .agg(count(lit(1)).as("n_docs"))
        .select(lit("__quarantined").as("lang"), col("n_docs"),
          lit(0L).as("total_chars"))
      good.unionByName(bad)
    }),

    // -- dq4: k-anonymity audit (re-identification risk) ------------------
    // the governance gate a training-data release runs: every
    // quasi-identifier combination (here nation x market segment x
    // account-balance bucket) that fewer than k=5 individuals share is a
    // re-identification risk and must be suppressed or generalized
    // before the data ships. One map-side-combined aggregation; the
    // report is bounded by the number of RISKY groups (small by
    // definition — a group that is large is not in it), so nothing
    // scales with table volume after the scan. floor() before the cast
    // in both engines (the x7 convention: DuckDB's double->bigint cast
    // rounds, Spark's truncates).
    "dq4_k_anonymity" -> ((s, d) => kAnonymityRisks(customer(s, d))),

    // -- dq6: per-source distribution drift (the corpus-mix monitor) -------
    // the check a crawl pipeline runs per ingestion source: has THIS
    // source's document-length distribution drifted away from the corpus?
    // Drift = total-variation distance between the source's 10-bucket
    // length histogram and the corpus-wide one, in basis points. The
    // fp-free formulation: TV = Σ_b |c_sb·N − c_b·N_s| / (2·N_s·N),
    // scaled ×10000 and floor-divided — integer-exact on both engines
    // (DECIMAL(38,0) here, HUGEINT in the oracle; the cross products
    // reach count², past BIGINT at ~3e9 docs). Scale shape: ONE scan
    // feeds three hash aggregates (source×bucket, bucket, source — all
    // map-side combinable); the scoring grid is sources×10 rows, i.e.
    // metadata-sized; a missing bucket still contributes |0 − c_b·N_s|
    // via the left join against the full grid.
    "dq6_distribution_drift" -> ((s, d) => distributionDrift(documents(s, d)))
  )

  /** Per-source total-variation drift report for [[queries dq6]]; input
    * needs (source, n_chars). Exposed for DataQualitySpec's crafted
    * corpora (a planted length-shifted source must flag, identically
    * distributed sources must not). */
  private[operators] def distributionDrift(docsIn: DataFrame): DataFrame = {
    val D38 = "decimal(38,0)"
    val docs = docsIn
      .select(col("source"), expr("least(n_chars div 100, 9)").as("b"))
    val sb = docs.groupBy("source", "b").agg(count(lit(1)).as("c_sb"))
    val g = docs.groupBy("b").agg(count(lit(1)).as("c_b"))
    val ns = docs.groupBy("source").agg(count(lit(1)).as("n_s"))
    val nTot = docs.agg(count(lit(1)).as("n_tot"))
    ns.crossJoin(broadcast(g)).crossJoin(broadcast(nTot))
      .join(sb, Seq("source", "b"), "left")
      .withColumn("c_sb", coalesce(col("c_sb"), lit(0L)))
      .groupBy(col("source"), col("n_s"), col("n_tot"))
      .agg(sum(abs(col("c_sb").cast(D38) * col("n_tot") -
        col("c_b").cast(D38) * col("n_s"))).as("l1"))
      .select(col("source"), col("n_s").as("n_docs"),
        expr("cast((l1 * 10000) div (2 * n_s * n_tot) as bigint)").as("tv_bp"),
        when(expr("(l1 * 10000) div (2 * n_s * n_tot)") >= 1500, 1)
          .otherwise(0).as("drifted"))
  }

  /** Quasi-identifier groups of `cust` shared by fewer than `k`
    * individuals — the rows a release must suppress or generalize.
    * See dq4's doc for the scale argument. */
  def kAnonymityRisks(cust: DataFrame, k: Int = 5): DataFrame =
    cust
      .groupBy(col("c_nationkey").as("nation"),
        col("c_mktsegment").as("segment"),
        floor(col("c_acctbal") / 1000).cast("long").as("bal_bucket"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") < k)

  def oracles: Map[String, String] = Map(
    // every 13th doc_id was made unparseable: good rows aggregate by
    // lang, the quarantine row accounts for the rest — totals must
    // reconcile exactly against the raw table
    "dq5_quarantine" ->
      """SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
        |FROM documents WHERE doc_id % 13 <> 0 GROUP BY lang
        |UNION ALL
        |SELECT '__quarantined', COUNT(*), 0
        |FROM documents WHERE doc_id % 13 = 0""".stripMargin,
    "dq4_k_anonymity" ->
      """SELECT c_nationkey AS nation, c_mktsegment AS segment,
        |  CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS bal_bucket,
        |  COUNT(*) AS n
        |FROM customer
        |GROUP BY 1, 2, 3
        |HAVING COUNT(*) < 5""".stripMargin,
    "dq1_constraints" ->
      """WITH wide AS (SELECT COUNT(*) AS n_rows,
        |  SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS v1,
        |  SUM(CASE WHEN l_quantity IS NULL OR l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END) AS v2,
        |  SUM(CASE WHEN l_discount IS NULL OR l_discount < 0 OR l_discount > 0.10 THEN 1 ELSE 0 END) AS v3,
        |  SUM(CASE WHEN l_returnflag IS NULL OR l_returnflag NOT IN ('A','N','R') THEN 1 ELSE 0 END) AS v4,
        |  SUM(CASE WHEN l_extendedprice IS NULL OR l_extendedprice <= 0 THEN 1 ELSE 0 END) AS v5,
        |  SUM(CASE WHEN l_shipdate IS NULL OR l_shipdate < TIMESTAMP '1992-01-01'
        |           OR l_shipdate >= TIMESTAMP '2000-01-01' THEN 1 ELSE 0 END) AS v6
        |  FROM lineitem),
        |dup AS (SELECT COALESCE(SUM(CASE WHEN c > 1 THEN c - 1 ELSE 0 END), 0) AS v,
        |               COALESCE(SUM(c), 0) AS n_rows
        |        FROM (SELECT COUNT(*) AS c FROM lineitem GROUP BY l_orderkey, l_linenumber)),
        |r AS (
        |  SELECT 'not_null:l_orderkey' AS check_name, v1 AS violations, n_rows FROM wide
        |  UNION ALL SELECT 'range:l_quantity[1,50]', v2, n_rows FROM wide
        |  UNION ALL SELECT 'range:l_discount[0,0.1]', v3, n_rows FROM wide
        |  UNION ALL SELECT 'in_set:l_returnflag{A,N,R}', v4, n_rows FROM wide
        |  UNION ALL SELECT 'positive:l_extendedprice', v5, n_rows FROM wide
        |  UNION ALL SELECT 'range:l_shipdate[1992,2000)', v6, n_rows FROM wide
        |  UNION ALL SELECT 'unique:(l_orderkey,l_linenumber)', v, n_rows FROM dup)
        |SELECT check_name, CAST(violations AS BIGINT) AS violations,
        |  CAST(n_rows AS BIGINT) AS n_rows,
        |  CASE WHEN violations = 0 THEN 1 ELSE 0 END AS pass
        |FROM r""".stripMargin,
    "dq2_referential" ->
      """SELECT 'lineitem->orders' AS rel,
        |  COUNT(*) AS orphan_rows, COUNT(DISTINCT l_orderkey) AS orphan_keys
        |FROM lineitem WHERE l_orderkey IS NOT NULL
        |  AND l_orderkey NOT IN (SELECT o_orderkey FROM orders WHERE o_orderkey IS NOT NULL)
        |UNION ALL
        |SELECT 'orders->customer',
        |  COUNT(*), COUNT(DISTINCT o_custkey)
        |FROM orders WHERE o_custkey IS NOT NULL
        |  AND o_custkey NOT IN (SELECT c_custkey FROM customer WHERE c_custkey IS NOT NULL)
        |UNION ALL
        |SELECT 'orders_without_lineitem', COUNT(*), COUNT(*)
        |FROM orders WHERE o_orderkey IS NOT NULL
        |  AND o_orderkey NOT IN (SELECT l_orderkey FROM lineitem WHERE l_orderkey IS NOT NULL)""".stripMargin,
    "dq3_continuity" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n
        |               FROM events GROUP BY 1),
        |g AS (SELECT day, n, day - LAG(day) OVER (ORDER BY day) AS gap FROM daily)
        |SELECT COUNT(*) AS n_days,
        |  CAST(MIN(day) AS VARCHAR) AS first_day,
        |  CAST(MAX(day) AS VARCHAR) AS last_day,
        |  CAST(COALESCE(SUM(CASE WHEN gap > 1 THEN gap - 1 ELSE 0 END), 0) AS BIGINT) AS missing_days,
        |  CAST(COALESCE(MAX(gap), 1) AS BIGINT) AS max_gap,
        |  CAST(SUM(n) AS BIGINT) AS n_events
        |FROM g""".stripMargin,
    "dq6_distribution_drift" ->
      """WITH dd AS (SELECT source, least(n_chars // 100, 9) AS b FROM documents),
        |sb AS (SELECT source, b, COUNT(*) AS c_sb FROM dd GROUP BY 1, 2),
        |g AS (SELECT b, COUNT(*) AS c_b FROM dd GROUP BY 1),
        |ns AS (SELECT source, COUNT(*) AS n_s FROM dd GROUP BY 1),
        |nt AS (SELECT COUNT(*) AS n_tot FROM dd),
        |grid AS (SELECT ns.source, ns.n_s, g.b, g.c_b, nt.n_tot,
        |           coalesce(sb.c_sb, 0) AS c_sb
        |         FROM ns CROSS JOIN g CROSS JOIN nt
        |         LEFT JOIN sb ON sb.source = ns.source AND sb.b = g.b),
        |l1 AS (SELECT source, n_s, n_tot,
        |         SUM(abs(CAST(c_sb AS HUGEINT) * n_tot
        |                 - CAST(c_b AS HUGEINT) * n_s)) AS l1
        |       FROM grid GROUP BY 1, 2, 3)
        |SELECT source, n_s AS n_docs,
        |  CAST((l1 * 10000) // (2 * n_s * n_tot) AS BIGINT) AS tv_bp,
        |  CASE WHEN (l1 * 10000) // (2 * n_s * n_tot) >= 1500
        |       THEN 1 ELSE 0 END AS drifted
        |FROM l1""".stripMargin
  )
}
