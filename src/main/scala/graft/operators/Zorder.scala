package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Z-order layout + min/max manifest file skipping — the data-skipping
  * half of the lakehouse story ([[Lakehouse]] has the bucketing and
  * incremental-maintenance halves).
  *
  * The write clusters rows by the MORTON INTERLEAVE of two columns
  * (range-partition + sort on the z-key), so every output file covers a
  * tight rectangle in (a, b) space; a one-row-per-file manifest of
  * per-column min/max is then enough to answer "which files can contain
  * rows matching this predicate" for predicates on EITHER column — the
  * property a single-column sort cannot give (sorted-by-a prunes nothing
  * for a b-only filter; ZorderSpec proves exactly that contrast).
  *
  * At 100 TB the manifest IS the metadata layer (Delta/Iceberg keep the
  * same stats per file): it has one row per FILE, millions of times
  * smaller than the data, and consulting it is a driver-side planning
  * step — the collect here is bounded by file count, never row count.
  */
object Zorder extends QueryFamily {

  /** Per-sf scratch root for layout demos (same convention as
    * [[Lakehouse]]/GenomicsIO). */
  private def ioDir(d: String) =
    graft.Scratch.dir(d)

  /** Morton (Z-curve) interleave of the low `bits` bits of two
    * non-negative columns: bit i of `a` lands at position 2i, bit i of
    * `b` at 2i+1. Pure shift/mask arithmetic — codegen'd, no UDF. */
  def mortonKey(a: Column, b: Column, bits: Int = 16): Column =
    (0 until bits).map { i =>
      shiftleft(shiftright(a.cast("long"), i).bitwiseAND(lit(1L)), 2 * i)
        .bitwiseOR(
          shiftleft(shiftright(b.cast("long"), i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_ bitwiseOR _)

  /** Writes `df` z-ordered on (`ca`, `cb`) into `nFiles` parquet files and
    * returns the manifest: one row per file with per-column min/max. */
  def writeZordered(df: DataFrame, ca: String, cb: String,
                    dir: String, nFiles: Int): DataFrame = {
    val zdf = df.withColumn("__z", mortonKey(col(ca), col(cb)))
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
    zdf.write.mode("overwrite").parquet(dir)
    val s = df.sparkSession
    s.read.parquet(dir)
      .select(col("_metadata.file_path").as("path"), col(ca), col(cb))
      .groupBy("path")
      .agg(min(col(ca)).as("min_a"), max(col(ca)).as("max_a"),
        min(col(cb)).as("min_b"), max(col(cb)).as("max_b"))
  }

  /** Driver-side planning against the manifest: the files whose [min, max]
    * rectangle intersects the query box. Bounded by FILE count. */
  def pruneFiles(manifest: DataFrame,
                 aLo: Long, aHi: Long, bLo: Long, bHi: Long): Seq[String] =
    manifest.filter(col("max_a") >= aLo && col("min_a") <= aHi &&
        col("max_b") >= bLo && col("min_b") <= bHi)
      .select("path").collect().map(_.getString(0)).toSeq

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // -- f13: z-order write -> manifest-pruned read through the gate -------
    // documents laid out z-ordered on (n_chars, doc_id); the query box
    // (n_chars in [200, 400], doc_id in [100, 2000]) consults the manifest
    // first and scans ONLY intersecting files, then applies the exact
    // residual predicate. The pruned-scan aggregate must equal the oracle's
    // full-table filter — proving skipped files really were irrelevant.
    // ZorderSpec pins the structural half (fewer files than the layout
    // total; a linearly-sorted layout fails to prune the doc_id box).
    "f13_zorder_prune" -> ((s, d) => {
      val dir = s"${ioDir(d)}/zorder"
      val docs = documents(s, d).select(col("doc_id"), col("n_chars"), col("lang"))
      val manifest = writeZordered(docs, "n_chars", "doc_id", dir, nFiles = 16)
      val picked = pruneFiles(manifest, 200, 400, 100, 2000)
      val src = if (picked.isEmpty) s.read.parquet(dir).limit(0)
                else s.read.parquet(picked: _*)
      src.filter(col("n_chars").between(200, 400) &&
          col("doc_id").between(100, 2000))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
    }),

    // -- f18: DYNAMIC partition pruning (runtime, join-driven) --------------
    // f9/f13 prove static pruning (literal predicates reach the directory
    // listing / manifest); this proves the RUNTIME half — the star-schema
    // shape that dominates 100 TB fact scans: the fact table is
    // partitioned by the join key, the dimension filter is only knowable
    // at run time (here: an md5-derived dim attribute), and Catalyst
    // injects a `dynamicpruning` subquery into the fact scan's
    // PartitionFilters so the selected dim keys prune fact DIRECTORIES
    // before any fact bytes are read (ZorderSpec pins both the plan
    // fragment and the pruned-partition count). Only the 2 of 5
    // event_type partitions the dim filter selects are scanned.
    "f18_dpp_prune" -> ((s, d) => {
      val dir = s"${ioDir(d)}/dpp_events"
      val ev = events(s, d).select(col("event_type"), col("value"))
      ev.write.mode("overwrite").partitionBy("event_type").parquet(dir)
      val fact = s.read.parquet(dir)
      val dim = events(s, d).select(col("event_type")).distinct()
        .withColumn("tag", substring(md5(col("event_type").cast("binary")), 1, 1))
      val sel = dim.filter(col("tag") < "8").select("event_type")
      fact.join(broadcast(sel), Seq("event_type"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("decimal(38,2)")
            .cast("double").as("total"))
    })
  )

  def oracles: Map[String, String] = Map(
    "f13_zorder_prune" ->
      """SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
        |FROM documents
        |WHERE n_chars BETWEEN 200 AND 400 AND doc_id BETWEEN 100 AND 2000
        |GROUP BY lang""".stripMargin,
    "f18_dpp_prune" ->
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS total
        |FROM events
        |WHERE substring(md5(event_type), 1, 1) < '8'
        |GROUP BY event_type""".stripMargin
  )
}
