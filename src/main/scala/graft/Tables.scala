package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table loaders for the driver-generated testdata layout
  * (`TESTDATA.md`): one parquet per table under a scale-factor dir.
  *
  * All engine queries take `(SparkSession, sfDir)` and read through here so
  * the scan always goes through the DataSource V2 parquet reader — filters
  * and column pruning push down to the scan (verify with
  * `.explain("formatted")`: `PushedFilters`, `ReadSchema`).
  */
object Tables {
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame = table(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  /** events.parquet has carried either TIMESTAMP(MICROS) (current testdata)
    * or TIMESTAMP(NANOS) (older generations — Spark 4 refuses NANOS unless
    * `nanosAsLong` is set, in which case `ts` reads back as LongType).
    * Branch on the schema actually read so both generations work: a long
    * `ts` is nanos and is floored to micros (matches DuckDB's ns->us
    * truncation); a timestamp `ts` is used as-is. */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    val raw =
      try table(s, d, "events")
      catch {
        case e: Exception if e.getMessage != null &&
            e.getMessage.contains("NANOS") =>
          s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
          table(s, d, "events")
      }
    raw.schema("ts").dataType match {
      case LongType => // nanos-as-long: floor to micros and rebuild
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        // engine sessions pin spark.sql.session.timeZone=UTC, so this cast
        // is epoch-exact against DuckDB's naive timestamp read
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** Hash-repartition `df` by `keys` to the session's shuffle parallelism
    * when its plan would otherwise run on fewer map partitions. The
    * driver-generated sf parquet is ONE row group, so scan-stage per-row
    * work (shingling, hashing, codec pipelines) otherwise serializes on a
    * single task while the other cores idle (guide §2.5 input skew:
    * "repartition immediately after the read"). An already-split input
    * (>= half the session parallelism) passes through untouched — at
    * scale, where scans arrive pre-split by maxPartitionBytes, this is a
    * no-op rather than an extra payload shuffle. Row contents are
    * untouched, so results never change. */
  def spread(df: DataFrame, keys: org.apache.spark.sql.Column*): DataFrame =
    spreadDS(df, keys: _*)

  /** [[spread]] generalized to any Dataset (the m-family decode feeds are
    * typed id lists). The partition probe reads the LEAF scan nodes of
    * the physical plan (`execute()` on a leaf builds only that scan's
    * RDD — no job, nothing upstream): the former `df.rdd.getNumPartitions`
    * probe built the WHOLE plan's RDD, which under AQE eagerly kicks off
    * broadcast/shuffle-stage materialization when the caller's frame
    * carries exchanges (ADVICE r13). A plan that already contains an
    * exchange is left untouched — its downstream partition count is the
    * session parallelism by construction, exactly what the old probe
    * concluded. */
  def spreadDS[T](df: org.apache.spark.sql.Dataset[T],
                  keys: org.apache.spark.sql.Column*): org.apache.spark.sql.Dataset[T] = {
    val s = df.sparkSession
    val n = s.conf.get("spark.sql.shuffle.partitions", "200") match {
      case "auto" => 200
      case v => v.toInt
    }
    val phys = df.queryExecution.sparkPlan
    val hasExchange = phys.exists {
      case _: org.apache.spark.sql.execution.exchange.Exchange => true
      case _ => false
    }
    val parts =
      if (hasExchange) n // already shuffled to session parallelism downstream
      else phys.collectLeaves().map(_.execute().getNumPartitions).sum
    if (parts * 2 >= n) df else df.repartition(n, keys: _*)
  }
}
