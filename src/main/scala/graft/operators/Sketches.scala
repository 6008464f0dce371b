package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Deterministic sketches — the approximate primitives a 100 TB pipeline
  * runs where exact answers don't fit (heavy-hitter counts, distinct
  * counts), built so BOTH engines construct bit-identical sketches (the
  * d9 bloom-filter trick: all hash functions are md5 windows, all sketch
  * state is integer/string — no FP, no engine-specific hashing, so even
  * the sketches' collision errors are reproduced exactly by the oracle).
  *
  * x1 count-min: 4 rows x 4096 buckets (3-hex-char bucket keys). The
  * sketch is a fixed-size aggregation (max 16 Ki cells regardless of
  * corpus size); the probe estimate is the standard min-over-rows upper
  * bound. At scale the sketch build is ONE map-side-combined aggregation
  * of the token stream — no join, no distinct.
  *
  * x2 HyperLogLog registers: 256 buckets (2 hex chars), rho = leading
  * zeros of the next 32 hash bits + 1, computed with pure string/CASE
  * arithmetic on the hex digits so no engine ever parses hex to a float.
  * Registers are max-aggregated ints — order-independent and exact. The
  * estimator (a harmonic mean) is left to the consumer: it is pure
  * driver-side arithmetic over 256 ints, and keeping FP out of the query
  * keeps the oracle bit-exact.
  */
object Sketches extends QueryFamily {

  private def ws: Column = split(col("text"), " ")

  /** 3-hex-digit (12-bit) count-min bucket of `tok` for hash row `r`. */
  private def cmBucket(tok: Column, r: Int): Column =
    substring(md5(concat(tok, lit(r.toString)).cast("binary")), 1, 3)

  /** Leading-zero-bit count of the 8-hex-char window `h` (32 bits), as
    * string arithmetic: 4 bits per leading '0' digit, plus 0-3 from the
    * first non-zero digit. All-zero windows saturate at 32.
    * (private[graft] so SketchesSpec can fuzz it against the JVM's
    * Integer.numberOfLeadingZeros, and the `stats` CLI can reuse it.) */
  private[graft] def leadingZeroBits(h: Column): Column = {
    val stripped = ltrim(h, "0")
    val zDigits = (length(h) - length(stripped)) * 4
    val first = substring(stripped, 1, 1)
    val extra = when(first === "1", 3)
      .when(first.isin("2", "3"), 2)
      .when(first.isin("4", "5", "6", "7"), 1)
      .otherwise(0)
    when(length(stripped) === 0, lit(32)).otherwise(zDigits + extra)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // -- count-min sketch + probe ------------------------------------------
    // build the 4x4096 sketch over ALL token occurrences, then estimate
    // the count of every token with true count >= 5 (the vocab set):
    // est = min over rows of the token's cell — >= true by construction,
    // equal unless a collision inflates all 4 cells identically in both
    // engines
    "x1_countmin_probe" -> ((s, d) => {
      // ONE corpus-scale shuffle (token counts); the 4-row count-min cell
      // explode and every later stage run over the distinct-token
      // VOCABULARY — cell counts are sums of token counts, identically.
      // (The previous form exploded 4 cells per corpus TOKEN before its
      // aggregation.)
      val tok = documents(s, d).select(explode(ws).as("tok"))
      val tokCounts = tok.groupBy("tok").agg(count(lit(1)).as("n"))
        .localCheckpoint()
      val cells = tokCounts.select(col("n"),
        explode(array((0 until 4).map(r =>
          struct(lit(r).as("r"), cmBucket(col("tok"), r).as("b"))): _*)).as("rb"))
        .groupBy(col("rb.r").as("r"), col("rb.b").as("b"))
        .agg(sum(col("n")).as("c"))
      val probes = tokCounts.filter(col("n") >= 5)
      val est = (0 until 4).map { r =>
        probes.select(col("tok"), col("n"), lit(r).as("r"),
          cmBucket(col("tok"), r).as("b"))
          .join(cells, Seq("r", "b"))
          .select(col("tok"), col("n"), col("c"))
      }.reduce(_ union _)
      est.groupBy("tok", "n").agg(min(col("c")).as("est"))
    }),

    // -- feature hashing (the "hashing trick") -----------------------------
    // per-doc term counts folded into a FIXED 256-bucket feature space via
    // an md5 bucket — the vectorization step for cheap linear quality
    // classifiers: dimensionality is capped regardless of vocabulary
    // growth, no vocab table needed, one map-side-combined aggregation.
    "x3_feature_hash" -> ((s, d) =>
      documents(s, d).select(col("doc_id"), explode(ws).as("tok"))
        .select(col("doc_id"),
          substring(md5(col("tok").cast("binary")), 1, 2).as("bucket"))
        .groupBy("doc_id", "bucket").agg(count(lit(1)).as("tf"))),

    // -- BM25 scoring against a fixed query ---------------------------------
    // the retrieval scorer a query-based curation pass runs (select docs
    // relevant to a target domain): k1=1.2, b=0.75, standard idf. One
    // token aggregation for (doc, term) tfs, a broadcast-sized df table
    // for the query terms only, per-doc lengths from a count — every
    // division happens in a fixed per-row order, so the rounded score is
    // engine-exact (the t16 tf-idf pattern).
    "x4_bm25" -> ((s, d) => {
      val queryTerms = Seq("data", "table", "stream")
      val doc = documents(s, d)
      val nDocs = doc.select(count(lit(1)).as("nd"))
      val lens = doc.select(col("doc_id"), size(ws).as("dl"))
      val avgLen = lens.select((sum(col("dl")).cast("double") /
        count(lit(1))).as("avgdl"))
      val tf = doc.select(col("doc_id"), explode(ws).as("tok"))
        .filter(col("tok").isin(queryTerms: _*))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      val df = tf.groupBy("tok").agg(count(lit(1)).as("df"))
      val score = tf.join(broadcast(df), "tok")
        .join(lens, "doc_id").crossJoin(broadcast(nDocs)).crossJoin(broadcast(avgLen))
        .withColumn("idf", log((col("nd") - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
        .withColumn("s", col("idf") * (col("tf") * 2.2) /
          (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
      // per-(doc, term) scores — no cross-term float sum, so no reduction
      // order can perturb the hash; the consumer sums 3 rounded values
      score.select(col("doc_id"), col("tok"), round(col("s"), 6).as("bm25"))
    }),

    // -- HyperLogLog registers over distinct tokens ------------------------
    "x2_hll_registers" -> ((s, d) => {
      val tok = documents(s, d).select(explode(ws).as("tok")).distinct()
      tok.select(
        substring(md5(col("tok").cast("binary")), 1, 2).as("bucket"),
        (leadingZeroBits(substring(md5(col("tok").cast("binary")), 3, 8)) + 1)
          .as("rho"))
        .groupBy("bucket").agg(max(col("rho")).cast("long").as("r"))
    }),

    // -- per-source HLL registers: the SHARDED form of x2 ------------------
    // HLL's whole point at 100 TB is mergeability: each shard/source keeps
    // its own 256 registers and the global sketch is a bucket-wise max —
    // SketchesSpec proves max-merging these rows reproduces x2 exactly.
    "x5_hll_by_source" -> ((s, d) => {
      val tok = documents(s, d)
        .select(col("source"), explode(ws).as("tok")).distinct()
      tok.select(col("source"),
        substring(md5(col("tok").cast("binary")), 1, 2).as("bucket"),
        (leadingZeroBits(substring(md5(col("tok").cast("binary")), 3, 8)) + 1)
          .as("rho"))
        .groupBy("source", "bucket").agg(max(col("rho")).cast("long").as("r"))
    }),

    // -- fixed-bin histogram quantiles -------------------------------------
    // the MERGEABLE approximate complement to q17's exact two-phase
    // selection: a 1000-unit-wide integer histogram per group (state =
    // #bins cells, sum-merged across any partitioning — the sketch shape
    // a 100 TB profiler keeps), quantile = lower edge of the bin where
    // the cumulative count crosses the rank. The rank window runs over
    // <= #bins rows per group — bounded by the VALUE RANGE, not the data
    // — so unlike a per-group row sort it never concentrates data-sized
    // work. floor() before the cast in both engines (DuckDB's
    // double->bigint cast rounds; Spark's truncates).
    "x7_hist_quantiles" -> ((s, d) => {
      val hist = lineitem(s, d)
        .select(col("l_returnflag").as("g"),
          floor(col("l_extendedprice") / 1000).cast("long").as("bin"))
        .groupBy("g", "bin").agg(count(lit(1)).as("c"))
      val byBin = org.apache.spark.sql.expressions.Window
        .partitionBy("g").orderBy("bin")
      val whole = org.apache.spark.sql.expressions.Window.partitionBy("g")
      hist.withColumn("cum", sum("c").over(byBin))
        .withColumn("n", sum("c").over(whole))
        .groupBy("g", "n")
        .agg((min(when(col("cum") * 2 >= col("n"), col("bin"))) * 1000)
            .as("p50_lo"),
          (min(when(col("cum") * 20 >= col("n") * 19, col("bin"))) * 1000)
            .as("p95_lo"))
    }),

    // -- KMV theta sketch: distinct-count SET ALGEBRA ----------------------
    // The set-operation sketch the HLL family can't be: KMV (k minimum
    // values) keeps the k smallest hashes of a set; union is "k smallest
    // of the merged sketches" and INTERSECTION is countable below the
    // shared theta = min of both sketches' thetas (Beyer et al. 2007 /
    // DataSketches theta) — HLL registers can union but never intersect.
    // Sets here are the word 3-shingles of the two doc_id-parity halves
    // (~10k distinct each, ~4k shared — the estimator genuinely estimates).
    //
    // At scale this is the CHEAPEST sketch in the file: the per-side
    // top-k runs as a rank window that Spark's WindowGroupLimit rewrites
    // into a partial per-task top-k BEFORE the exchange (each map task
    // emits <= k rows per side, no corpus-wide distinct needed at all —
    // pinned in PlanAuditSpec), and everything after the 2x256-row
    // sketches is constant-size. Hashes are md5 hex (fixed-width, so
    // string order == numeric order); thetas are RETAINED hashes and
    // counts are integers — the estimator (the one FP step) stays
    // driver-side in [[kmvSketchEstimate]]/[[kmvBelowThetaEstimate]], outside the oracle-checked query.
    "x10_kmv_theta" -> ((s, d) => {
      val k = 256
      val (sk, th, tmin) = kmvParitySides(s, d, k)
      val sides = th.select(concat(lit("side_"), col("side")).as("part"),
        col("n"), col("theta"))
      // union sketch: distinct merged hashes strictly below the shared
      // theta, re-trimmed to k (the DataSketches union rule)
      val cand = sk.select("h").distinct().crossJoin(broadcast(tmin))
        .filter(col("h") < col("tm"))
      val uni = cand.agg(sort_array(collect_list(col("h"))).as("arr"))
        .crossJoin(broadcast(tmin))
        .select(lit("union").as("part"),
          least(lit(k), size(col("arr"))).cast("long").as("n"),
          when(size(col("arr")) >= k, element_at(col("arr"), k))
            .otherwise(col("tm")).as("theta"))
      // intersection: sketch-common hashes below the shared theta
      val inter = sk.filter(col("side") === 0).select(col("h"))
        .join(sk.filter(col("side") === 1).select(col("h")), "h")
        .crossJoin(broadcast(tmin)).filter(col("h") < col("tm"))
        .agg(count(lit(1)).as("n"))
        .crossJoin(broadcast(tmin))
        .select(lit("intersect").as("part"), col("n"), col("tm").as("theta"))
      sides.unionByName(uni).unionByName(inter)
    }),

    // -- x14: KMV theta A-NOT-B — the remaining set-algebra verb -----------
    // x10 estimates union and intersection; difference completes the
    // DataSketches triple: |A\B| ≈ (count of A-sketch hashes below the
    // shared theta that are absent from B's sketch) / theta. The anti-join
    // runs on two ≤k-row sketches (constant size at any corpus scale) and
    // everything upstream is x10's same per-map-task partial top-k build —
    // "which shingles are in Monday's crawl but not Tuesday's" at 100 TB
    // costs two 256-row sketches and one tiny anti-join per direction.
    // SketchesSpec proves estimator accuracy against the exact
    // set-difference cardinalities.
    "x14_kmv_anotb" -> ((s, d) => {
      val (sk, _, tmin) = kmvParitySides(s, d, 256)
      def diff(name: String, xSide: Int): DataFrame =
        sk.filter(col("side") === xSide).select(col("h"))
          .join(sk.filter(col("side") === (1 - xSide)).select(col("h")),
            Seq("h"), "left_anti")
          .crossJoin(broadcast(tmin)).filter(col("h") < col("tm"))
          .agg(count(lit(1)).as("n"))
          .crossJoin(broadcast(tmin))
          .select(lit(name).as("part"), col("n"), col("tm").as("theta"))
      diff("a_not_b", 0).unionByName(diff("b_not_a", 1))
    }),

    // -- hashed linear classifier scoring ----------------------------------
    // the INFERENCE half of the x3 hashing-trick vectorizer: score every
    // document under a fixed linear model over the 256 hashed feature
    // buckets (the fasttext-style quality filter a curation pipeline runs
    // over the whole corpus). The "trained" weight vector is a
    // deterministic function of the bucket id (both engines derive it
    // with ascii() arithmetic — no weight table to ship at all; a real
    // model would broadcast its 256 ints). Integer weights and an integer
    // score keep the oracle bit-exact; the one scan aggregates map-side
    // with no join and no shuffle beyond the per-doc combine — scoring at
    // 100 TB is embarrassingly parallel.
    "x6_linear_score" -> ((s, d) =>
      linearScore(documents(s, d))
        .withColumn("keep", when(col("score") > 0, 1).otherwise(0)))
  )

  /** `(doc_id, n_tok, score)` under the fixed hashed linear model (see
    * x6's doc) — the reusable scoring surface [[Curation.curate]]'s
    * optional classifier gate composes. */
  def linearScore(docs: DataFrame): DataFrame = {
    val b = substring(md5(col("tok").cast("binary")), 1, 2)
    val w = (ascii(substring(b, 1, 1)) * 7 + ascii(substring(b, 2, 1))) % 41 - 20
    docs.select(col("doc_id"), explode(ws).as("tok"))
      .select(col("doc_id"), w.as("w"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tok"), sum(col("w")).as("score"))
  }

  /** Standard HLL estimator over the 256 `(bucket, r)` register rows that
    * x2/x5 emit (driver-side arithmetic over 256 ints — the one FP step,
    * deliberately OUTSIDE the oracle-checked queries). Missing buckets are
    * empty (rho 0); the small-range linear-counting correction applies
    * below 2.5m, which is exactly the regime the test corpora sit in. */
  def hllEstimate(registers: Map[String, Long], m: Int = 256): Double = {
    val rs = (0 until m).map(b => registers.getOrElse(f"$b%02x", 0L))
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    val raw = alpha * m * m / rs.map(r => math.pow(2.0, -r.toDouble)).sum
    val empty = rs.count(_ == 0L)
    if (raw <= 2.5 * m && empty > 0) m * math.log(m.toDouble / empty) else raw
  }

  /** The k smallest distinct hashes per `side` of a `(side, h)` multiset —
    * the KMV sketch-build stage of x10, factored out so PlanAuditSpec can
    * pin its physical shape: dense_rank (not row_number, so duplicate
    * occurrences of one hash never displace a distinct smaller hash)
    * under a rank-limit filter, which Spark's WindowGroupLimit rewrite
    * turns into a per-map-task partial top-k BEFORE the exchange — each
    * task ships <= k rows per side, so the sketch build needs no
    * corpus-wide distinct at any scale. */
  def kmvSketch(hs: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    hs.withColumn("rk",
        dense_rank().over(Window.partitionBy("side").orderBy("h")))
      .filter(col("rk") <= k).select("side", "h").distinct()
  }

  /** x10/x14's shared setup: the doc_id-parity 3-shingle sets sketched
    * per side, plus per-side (theta, n) and the shared min-theta — the
    * checkpointed sketch (<= 2k rows) feeds every set-algebra consumer. */
  private def kmvParitySides(s: SparkSession, d: String,
                             k: Int): (DataFrame, DataFrame, DataFrame) = {
    val sh = Shingles.wordNGrams(
      documents(s, d).select(col("doc_id"), col("text")), 3)
    val hs = sh.select((col("doc_id") % 2).cast("int").as("side"),
      md5(col("sh").cast("binary")).as("h"))
    val sk = kmvSketch(hs, k).localCheckpoint()
    val th = sk.groupBy("side")
      .agg(max(col("h")).as("theta"), count(lit(1)).as("n"))
    val tmin = th.agg(min(col("theta")).as("tm"))
    (sk, th, tmin)
  }

  /** Fraction of the hash space at or below the 32-hex-char theta —
    * BigInt-exact division, the one FP conversion at the very end. */
  def kmvTheta(thetaHex: String): Double =
    (BigDecimal(BigInt(thetaHex, 16)) /
      BigDecimal(BigInt(1) << 128)).toDouble

  /** KMV estimators over x10 rows (deliberately driver-side, like
    * [[hllEstimate]]). Two distinct regimes that must not be conflated:
    * a FULL sketch (n == k) estimates (k-1)/theta from its kth-smallest
    * retained hash; a sketch that absorbed the whole set (n < k, theta =
    * its own max retained hash) IS the set — the answer is exactly n
    * (n/theta here would over-estimate by ~1 element). */
  def kmvSketchEstimate(n: Long, thetaHex: String, k: Int = 256): Double =
    if (n < k) n.toDouble else (k - 1) / kmvTheta(thetaHex)

  /** Estimate for a theta-TRUNCATED count: n hashes observed strictly
    * below an externally-imposed theta (x10's intersect row, and its
    * union row when the merged candidates stay under k) scale up by the
    * sampled fraction of the hash space. */
  def kmvBelowThetaEstimate(n: Long, thetaHex: String): Double =
    n / kmvTheta(thetaHex)

  private def sqlCmBucket(tok: String, r: Int): String =
    s"substring(md5($tok || '$r'), 1, 3)"

  def oracles: Map[String, String] = Map(
    "x1_countmin_probe" -> {
      val cellSelects = (0 until 4).map(r =>
        s"SELECT $r AS r, ${sqlCmBucket("tok", r)} AS b FROM tok").mkString("\nUNION ALL ")
      val probeSelects = (0 until 4).map(r =>
        s"SELECT tok, n, $r AS r, ${sqlCmBucket("tok", r)} AS b FROM probes")
        .mkString("\nUNION ALL ")
      s"""WITH tok AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
         |rb AS (
         |$cellSelects),
         |cells AS (SELECT r, b, COUNT(*) AS c FROM rb GROUP BY r, b),
         |probes AS (SELECT tok, COUNT(*) AS n FROM tok GROUP BY tok HAVING COUNT(*) >= 5),
         |pr AS (
         |$probeSelects)
         |SELECT pr.tok, pr.n, MIN(cells.c) AS est
         |FROM pr JOIN cells ON pr.r = cells.r AND pr.b = cells.b
         |GROUP BY pr.tok, pr.n""".stripMargin
    },
    "x3_feature_hash" ->
      """SELECT doc_id, substring(md5(tok), 1, 2) AS bucket, COUNT(*) AS tf
        |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
        |GROUP BY doc_id, substring(md5(tok), 1, 2)""".stripMargin,
    "x4_bm25" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |nd AS (SELECT COUNT(*) AS nd FROM documents),
        |lens AS (SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents),
        |avgl AS (SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM lens),
        |tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM tok
        |       WHERE tok IN ('data', 'table', 'stream') GROUP BY doc_id, tok),
        |df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok)
        |SELECT tf.doc_id, tf.tok,
        |  round(ln((nd.nd - df.df + 0.5) / (df.df + 0.5) + 1.0) *
        |    (tf.tf * 2.2) /
        |    (tf.tf + 1.2 * (0.25 + 0.75 * lens.dl / avgl.avgdl)), 6) AS bm25
        |FROM tf JOIN df USING (tok) JOIN lens USING (doc_id)
        |CROSS JOIN nd CROSS JOIN avgl""".stripMargin,
    "x5_hll_by_source" ->
      """WITH tok AS (SELECT DISTINCT source, unnest(string_split(text, ' ')) AS tok FROM documents),
        |h AS (SELECT source, substring(md5(tok), 1, 2) AS bucket,
        |             substring(md5(tok), 3, 8) AS w FROM tok),
        |z AS (SELECT source, bucket, w, ltrim(w, '0') AS s FROM h),
        |r AS (SELECT source, bucket,
        |        CASE WHEN length(s) = 0 THEN 32
        |             ELSE (length(w) - length(s)) * 4 +
        |               CASE WHEN s[1] = '1' THEN 3
        |                    WHEN s[1] IN ('2','3') THEN 2
        |                    WHEN s[1] IN ('4','5','6','7') THEN 1
        |                    ELSE 0 END
        |        END + 1 AS rho
        |      FROM z)
        |SELECT source, bucket, CAST(MAX(rho) AS BIGINT) AS r
        |FROM r GROUP BY source, bucket""".stripMargin,
    "x2_hll_registers" ->
      """WITH tok AS (SELECT DISTINCT unnest(string_split(text, ' ')) AS tok FROM documents),
        |h AS (SELECT substring(md5(tok), 1, 2) AS bucket,
        |             substring(md5(tok), 3, 8) AS w FROM tok),
        |z AS (SELECT bucket, w, ltrim(w, '0') AS s FROM h),
        |r AS (SELECT bucket,
        |        CASE WHEN length(s) = 0 THEN 32
        |             ELSE (length(w) - length(s)) * 4 +
        |               CASE WHEN s[1] = '1' THEN 3
        |                    WHEN s[1] IN ('2','3') THEN 2
        |                    WHEN s[1] IN ('4','5','6','7') THEN 1
        |                    ELSE 0 END
        |        END + 1 AS rho
        |      FROM z)
        |SELECT bucket, CAST(MAX(rho) AS BIGINT) AS r FROM r GROUP BY bucket""".stripMargin,
    "x7_hist_quantiles" ->
      """WITH b AS (SELECT l_returnflag AS g,
        |    CAST(FLOOR(l_extendedprice / 1000) AS BIGINT) AS bin FROM lineitem),
        |h AS (SELECT g, bin, COUNT(*) AS c FROM b GROUP BY g, bin),
        |cw AS (SELECT g, bin, c,
        |    SUM(c) OVER (PARTITION BY g ORDER BY bin) AS cum,
        |    SUM(c) OVER (PARTITION BY g) AS n
        |  FROM h)
        |SELECT g, CAST(n AS BIGINT) AS n,
        |  MIN(CASE WHEN cum * 2 >= n THEN bin END) * 1000 AS p50_lo,
        |  MIN(CASE WHEN cum * 20 >= n * 19 THEN bin END) * 1000 AS p95_lo
        |FROM cw GROUP BY g, n""".stripMargin,
    "x10_kmv_theta" ->
      """WITH ws AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |sh AS (SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS sh
        |       FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws)-2)) AS i FROM ws)),
        |hs AS (SELECT doc_id % 2 AS side, md5(sh) AS h FROM sh),
        |rk AS (SELECT side, h, dense_rank() OVER (PARTITION BY side ORDER BY h) AS rk FROM hs),
        |sk AS (SELECT DISTINCT side, h FROM rk WHERE rk <= 256),
        |th AS (SELECT side, max(h) AS theta, COUNT(*) AS n FROM sk GROUP BY side),
        |tmin AS (SELECT min(theta) AS tm FROM th),
        |cand AS (SELECT DISTINCT h FROM sk, tmin WHERE h < tm),
        |candl AS (SELECT list_sort(list(h)) AS arr FROM cand),
        |uni AS (SELECT 'union' AS part,
        |          least(256, coalesce(len(arr), 0)) AS n,
        |          CASE WHEN coalesce(len(arr), 0) >= 256 THEN arr[256]
        |               ELSE (SELECT tm FROM tmin) END AS theta
        |        FROM candl),
        |inter AS (SELECT 'intersect' AS part,
        |          (SELECT COUNT(*) FROM sk a JOIN sk b ON a.h = b.h
        |             AND a.side = 0 AND b.side = 1, tmin WHERE a.h < tm) AS n,
        |          (SELECT tm FROM tmin) AS theta)
        |SELECT part, CAST(n AS BIGINT) AS n, theta FROM (
        |  SELECT 'side_' || CAST(side AS VARCHAR) AS part, n, theta FROM th
        |  UNION ALL SELECT part, n, theta FROM uni
        |  UNION ALL SELECT part, n, theta FROM inter)""".stripMargin,
    // same sketch CTEs as x10; each difference row counts one side's
    // sketch hashes below the shared theta that are absent from the
    // other side's sketch (the DataSketches A-not-B rule)
    "x14_kmv_anotb" ->
      """WITH ws AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |sh AS (SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS sh
        |       FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws)-2)) AS i FROM ws)),
        |hs AS (SELECT doc_id % 2 AS side, md5(sh) AS h FROM sh),
        |rk AS (SELECT side, h, dense_rank() OVER (PARTITION BY side ORDER BY h) AS rk FROM hs),
        |sk AS (SELECT DISTINCT side, h FROM rk WHERE rk <= 256),
        |th AS (SELECT side, max(h) AS theta FROM sk GROUP BY side),
        |tmin AS (SELECT min(theta) AS tm FROM th)
        |SELECT part, CAST(n AS BIGINT) AS n, theta FROM (
        |  SELECT 'a_not_b' AS part,
        |    (SELECT COUNT(*) FROM sk a, tmin WHERE a.side = 0 AND a.h < tm
        |       AND NOT EXISTS (SELECT 1 FROM sk b WHERE b.side = 1 AND b.h = a.h)) AS n,
        |    (SELECT tm FROM tmin) AS theta
        |  UNION ALL
        |  SELECT 'b_not_a',
        |    (SELECT COUNT(*) FROM sk a, tmin WHERE a.side = 1 AND a.h < tm
        |       AND NOT EXISTS (SELECT 1 FROM sk b WHERE b.side = 0 AND b.h = a.h)),
        |    (SELECT tm FROM tmin))""".stripMargin,
    "x6_linear_score" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |wtok AS (SELECT doc_id,
        |    (ascii(substring(md5(tok), 1, 1)) * 7 +
        |     ascii(substring(md5(tok), 2, 1))) % 41 - 20 AS w
        |  FROM tok),
        |sc AS (SELECT doc_id, COUNT(*) AS n_tok, CAST(SUM(w) AS BIGINT) AS score
        |       FROM wtok GROUP BY doc_id)
        |SELECT doc_id, n_tok, score,
        |  CASE WHEN score > 0 THEN 1 ELSE 0 END AS keep
        |FROM sc""".stripMargin
  )
}
