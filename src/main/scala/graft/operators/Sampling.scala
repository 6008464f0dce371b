package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Deterministic weighted sampling — the corpus-mixing primitive a
  * training pipeline uses to draw a fixed-size sample where long,
  * high-quality documents should be proportionally more likely than
  * stubs, WITHOUT a random number generator (re-runs must pick the same
  * rows on 1000 executors).
  *
  * Scheme: priority sampling (Ohlsson's sequential Poisson sampling;
  * Duffield, Lund & Thorup, JACM 2007): give each row priority
  * u_i / w_i, where u_i is a uniform deterministic hash of the row key,
  * and keep the n smallest priorities. Inclusion probability is
  * ~ n * w_i / W, the estimator is unbiased, and the whole draw is one
  * ORDER BY ... LIMIT n — which Spark executes as TakeOrderedAndProject:
  * each partition keeps its local top-n heap and the driver merges
  * #partitions * n rows, so NO global sort and NO full shuffle happens at
  * any corpus size. The hash-derived u_i means both engines (and every
  * re-run) draw the identical sample.
  */
object Sampling extends QueryFamily {

  /** Uniform 32-bit integer from the md5 hex prefix of the key column —
    * digit-by-digit hex parse using only functions both engines evaluate
    * identically (same convention as the t23 split buckets). */
  def hashU32(key: Column): Column = {
    val h = md5(key.cast("string").cast("binary"))
    def hv(i: Int): Column = {
      val a = ascii(substring(h, i, 1))
      a - when(a >= 97, 87).otherwise(48)
    }
    (1 to 8).map(i => hv(i).cast("long") * (1L << (4 * (8 - i))))
      .reduce(_ + _)
  }

  /** Weighted sample of `n` docs, weight = max(n_chars, 1). Returns the
    * picked rows with their u32 draw and priority (u/w, an IEEE-exact
    * division both engines round identically). */
  def weightedSample(docs: DataFrame, n: Int): DataFrame = {
    val w = greatest(col("n_chars"), lit(1L)).cast("double")
    docs.select(col("doc_id"), col("lang"), col("n_chars"),
        hashU32(col("doc_id")).as("u32"))
      .withColumn("priority", col("u32").cast("double") / w)
      .orderBy(col("priority").asc, col("doc_id").asc)
      .limit(n)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // -- t32: deterministic weighted sample, top-n-by-priority ------------
    "t32_weighted_sample" -> ((s, d) => weightedSample(documents(s, d), 200))
  )

  def oracles: Map[String, String] = Map(
    "t32_weighted_sample" ->
      """WITH h AS (SELECT doc_id, lang, n_chars,
        |    md5(CAST(doc_id AS VARCHAR)) AS hx FROM documents),
        |u AS (SELECT doc_id, lang, n_chars,
        |    (CAST(ascii(substring(hx,1,1)) - CASE WHEN ascii(substring(hx,1,1)) >= 97 THEN 87 ELSE 48 END AS BIGINT) * 268435456 +
        |     CAST(ascii(substring(hx,2,1)) - CASE WHEN ascii(substring(hx,2,1)) >= 97 THEN 87 ELSE 48 END AS BIGINT) * 16777216 +
        |     CAST(ascii(substring(hx,3,1)) - CASE WHEN ascii(substring(hx,3,1)) >= 97 THEN 87 ELSE 48 END AS BIGINT) * 1048576 +
        |     CAST(ascii(substring(hx,4,1)) - CASE WHEN ascii(substring(hx,4,1)) >= 97 THEN 87 ELSE 48 END AS BIGINT) * 65536 +
        |     CAST(ascii(substring(hx,5,1)) - CASE WHEN ascii(substring(hx,5,1)) >= 97 THEN 87 ELSE 48 END AS BIGINT) * 4096 +
        |     CAST(ascii(substring(hx,6,1)) - CASE WHEN ascii(substring(hx,6,1)) >= 97 THEN 87 ELSE 48 END AS BIGINT) * 256 +
        |     CAST(ascii(substring(hx,7,1)) - CASE WHEN ascii(substring(hx,7,1)) >= 97 THEN 87 ELSE 48 END AS BIGINT) * 16 +
        |     CAST(ascii(substring(hx,8,1)) - CASE WHEN ascii(substring(hx,8,1)) >= 97 THEN 87 ELSE 48 END AS BIGINT)) AS u32
        |  FROM h)
        |SELECT doc_id, lang, n_chars, u32,
        |  CAST(u32 AS DOUBLE) / CAST(GREATEST(n_chars, 1) AS DOUBLE) AS priority
        |FROM u
        |ORDER BY priority ASC, doc_id ASC
        |LIMIT 200""".stripMargin
  )
}
