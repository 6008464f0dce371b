package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator is exposed as a named query over the
  * driver-generated testdata; each SQL-expressible one has a DuckDB oracle
  * in [[oracleSql]] (same column names, deterministic values — see the
  * determinism rules in [[graft.operators.Relational]]).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_agg")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2 (+ the
    * LLM-data-pipeline layer). */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Relational.queries ++ Genomics.queries ++ Assembler.queries ++
      Dedup.queries ++ Similarity.queries ++ TextOps.queries ++ Sketches.queries ++
      Events.queries ++ Multimodal.queries ++ GenomicsIO.queries ++ Dynamic.queries ++ Rescue.queries ++ Patching.queries ++ GraphOps.queries ++ SamConsensus.queries ++ Pipelines.queries ++ Curation.queries ++ ErrorCorrect.queries ++ Lakehouse.queries ++ Zorder.queries ++ DataQuality.queries ++ Sampling.queries

  /** Operators with NO SQL-expressible oracle (the driver contract's
    * "omit" case): excluded from [[queries]] so the SQL gate stays
    * 100% green, but still first-class library surface — gated locally
    * with Python-computed references (tools/oracle_check.py), covered
    * by Bench and ClusterSmoke. Currently just the zlib deflate ratio. */
  def localQueries: Map[String, (SparkSession, String) => DataFrame] =
    TextOps.localQueries ++ Multimodal.localQueries ++ Assembler.localQueries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys get a rows-only check. */
  def oracleSql: Map[String, String] =
    Relational.oracles ++ Genomics.oracles ++ Assembler.oracles ++
      Dedup.oracles ++ Similarity.oracles ++ TextOps.oracles ++ Sketches.oracles ++
      Events.oracles ++ Multimodal.oracles ++ GenomicsIO.oracles ++ Dynamic.oracles ++ Rescue.oracles ++ Patching.oracles ++ GraphOps.oracles ++ SamConsensus.oracles ++ Pipelines.oracles ++ Curation.oracles ++ ErrorCorrect.oracles ++ Lakehouse.oracles ++ Zorder.oracles ++ DataQuality.oracles ++ Sampling.oracles
}
