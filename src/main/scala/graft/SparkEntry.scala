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

  /** Every operator family, in registry order. */
  val families: Seq[QueryFamily] = Seq(
    Relational, Genomics, Assembler, Dedup, Similarity, TextOps, Sketches,
    Events, Multimodal, GenomicsIO, Dynamic, Rescue, Patching, GraphOps,
    SamConsensus, Pipelines, Curation, ErrorCorrect, Lakehouse, Zorder,
    DataQuality, Sampling)

  /** One entry per implemented operator from SURVEY.md §2 (+ the
    * LLM-data-pipeline layer). */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    families.flatMap(_.queries).toMap

  /** Operators with NO SQL-expressible oracle (the driver contract's
    * "omit" case): excluded from [[queries]] so the SQL gate stays
    * 100% green, but still first-class library surface — gated locally
    * with Python-computed references (tools/oracle_check.py), covered
    * by Bench and ClusterSmoke. */
  def localQueries: Map[String, (SparkSession, String) => DataFrame] =
    families.flatMap(_.localQueries).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys get a rows-only check. */
  def oracleSql: Map[String, String] = families.flatMap(_.oracles).toMap
}
