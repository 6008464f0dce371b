package graft.core

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{bit_xor, col, count, lit, xxhash64}

/** The one convergence loop of the iterative operators (hash-to-min
  * components, k-core and k-truss peels, BFS, overlap merging): the
  * paper's "sort → reflect → extend" recursion with a truncation between
  * rounds, written once. `Fixpoint(name, start, maxRounds)(step)` runs
  * `step(state, round)` for round = 1, 2, ... on a `localCheckpoint`ed
  * state, so every round reads a materialized table and the lineage never
  * grows with the round count. It stops when a round leaves the
  * `(count, bit_xor(xxhash64(all columns)))` fingerprint unchanged, when
  * the state is empty, or after `maxRounds` rounds; it frees each state's
  * blocks once the next one is materialized ([[release]]) and adds the
  * rounds taken to [[Counters]] as `fixpoint.<name>.rounds`. Returns the
  * last (checkpointed) state. */
object Fixpoint {
  def apply(name: String, start: DataFrame, maxRounds: Int)(
      step: (DataFrame, Int) => DataFrame): DataFrame = {
    var state = start.localCheckpoint()
    var fp = fingerprint(state)
    var stable = fp.getLong(0) == 0L
    var rounds = 0
    while (!stable && rounds < maxRounds) {
      rounds += 1
      val next = step(state, rounds).localCheckpoint()
      val nfp = fingerprint(next)
      release(state)
      stable = nfp == fp || nfp.getLong(0) == 0L
      fp = nfp
      state = next
    }
    Counters.add(s"fixpoint.$name.rounds", rounds.toLong)
    state
  }

  private def fingerprint(df: DataFrame) =
    df.agg(count(lit(1)), bit_xor(xxhash64(df.columns.toSeq.map(col): _*))).first()

  /** Frees the blocks of a `localCheckpoint`ed Dataset. `Dataset.unpersist()`
    * only drops cache-manager entries, and a local checkpoint is not one: its
    * blocks belong to the RDD under the plan's `LogicalRDD`, which stays in
    * `getPersistentRDDs` until that RDD is unpersisted. Any other plan (a
    * durable Parquet stage, an uncheckpointed Dataset) is left alone. Call it
    * only once every later state is materialized: reading a released state
    * fails. */
  def release(ds: Dataset[_]): Unit = ds.queryExecution.logical match {
    case r: LogicalRDD => r.rdd.unpersist(blocking = false); ()
    case _ => ()
  }
}
