package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One operator family's named queries over an sf testdata dir, their
  * DuckDB oracles, and the queries gated locally against Python
  * references instead ([[graft.SparkEntry.localQueries]]). */
trait QueryFamily {
  def queries: Map[String, (SparkSession, String) => DataFrame]
  def oracles: Map[String, String]
  def localQueries: Map[String, (SparkSession, String) => DataFrame] = Map.empty
}
