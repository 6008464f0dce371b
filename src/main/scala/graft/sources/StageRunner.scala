package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** S7: staged multi-job pipelines with `_SUCCESS`-based resume — the
  * Spark-first replacement for the reference's driver orchestration
  * (`Pipelines.java:481-556,613-829`): each stage materializes to Parquet
  * (not gzip CSV), a completed stage is detected by its `_SUCCESS` marker
  * and is read back instead of recomputed, so a restarted pipeline resumes
  * at the first missing stage. Also truncates lineage between stages —
  * the iteration loops inside a stage never see upstream lineage.
  */
final class StageRunner(spark: SparkSession, rootDir: String) {
  private val fs = new Path(rootDir)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def stagePath(name: String) = new Path(rootDir, name)

  /** True iff the stage previously completed (its `_SUCCESS` exists). */
  def isComplete(name: String): Boolean =
    fs.exists(new Path(stagePath(name), "_SUCCESS"))

  /** Run (or resume) a stage: returns the stage output, computing `body`
    * only when no completed output exists. */
  def stage(name: String)(body: => DataFrame): DataFrame = {
    val p = stagePath(name)
    if (!isComplete(name)) {
      body.write.mode("overwrite").parquet(p.toString)
    }
    spark.read.parquet(p.toString)
  }

  /** Names of COMPLETED stages whose name starts with `prefix` — lets an
    * iterative operator find its latest durable snapshot after a restart. */
  def completed(prefix: String): Seq[String] = {
    val root = new Path(rootDir)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq.map(_.getPath.getName)
      .filter(n => n.startsWith(prefix) && isComplete(n))
  }

  /** Delete a consumed stage directory (disk-space management between
    * dynamic-k rounds, per the reference's cleanup pass). */
  def clean(name: String): Unit = {
    val p = stagePath(name)
    if (fs.exists(p)) { fs.delete(p, true); () }
  }
}
