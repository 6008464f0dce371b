package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

/** The one stream policy every bounded es* replay runs under: a
  * one-file-per-trigger source over a replay dir ([[Replay]]), run to
  * completion with `Trigger.AvailableNow` at [[StatePartitions]] state
  * partitions under a fresh checkpoint root, into one of three sinks — a
  * caller-named memory table ([[memory]]), a per-batch `batch_id=<n>`
  * parquet capture ([[capture]]) or a `foreachBatch` commit ([[commit]]).
  *
  * After each run the driver sums the run's `recentProgress` into
  * [[graft.core.Counters]]: `stream.batches`, one `stream.<phase>_ms` per
  * `durationMs` key (addBatch, walCommit, queryPlanning, …) and
  * `stream.state_rows_removed`. A bounded replay runs a handful of
  * batches, far below the 100 progress updates Spark retains, and the
  * totals are complete once `awaitTermination` returns — no listener.
  */
object ReplayRunner {

  /** State-store partitions of every replay. Spark pins the number of
    * state-store partitions from `spark.sql.shuffle.partitions` at stream
    * start and freezes it into the checkpoint; AQE cannot coalesce
    * stateful streaming exchanges, so unlike batch this width is part of
    * the operator's deployment and is sized to the stream's key space and
    * rate, not left at the session's batch default. The replays are
    * bounded few-batch streams where per-partition state-store
    * open/commit per micro-batch dominates, so they run at 4 (measured:
    * the stream-stream joins drop 5.2 -> 3.9 s at sf0.1 vs 8 partitions,
    * every other es* equal or faster, oracle hashes identical). A
    * production deployment sizes it to sustained events/sec. */
  private val StatePartitions = 4

  /** A parquet replay dir as a stream of one file per micro-batch. */
  def parquet(s: SparkSession, dir: String): DataFrame =
    s.readStream.schema(s.read.parquet(dir).schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)

  /** A dir of FASTQ shards (plain or `.gb4z`) through the `fastq` DSv2
    * source, one shard per micro-batch. */
  def fastq(s: SparkSession, dir: String): DataFrame =
    s.readStream.format("fastq").option("maxFilesPerTrigger", "1").load(dir)

  /** Run `out` into the memory table `name` (dropped first, so reruns
    * replace it) and return the table. */
  def memory(out: Dataset[_], name: String, mode: String): DataFrame = {
    val s = out.sparkSession
    s.catalog.dropTempView(name)
    run(s, Seq(out.writeStream.format("memory").queryName(name).outputMode(mode)))
    s.table(name)
  }

  /** Run `out`, landing micro-batch n as the parquet partition
    * `dir/batch_id=<n>` (dir cleared first), and return the capture with
    * its `batch_id` column: which batch emitted each row is on disk. */
  def capture(out: Dataset[_], dir: String, mode: String): DataFrame = {
    graft.Scratch.delete(dir)
    run(out.sparkSession, Seq(out.toDF().writeStream.outputMode(mode)
      .foreachBatch { (b: DataFrame, id: Long) =>
        b.write.mode("overwrite").parquet(f"$dir/batch_id=$id%03d")
        ()
      }))
    out.sparkSession.read.parquet(dir)
  }

  /** Run the streams `outs` concurrently, handing micro-batch `id` of
    * stream `i` to `f(i, batch, id)`. */
  def commit(outs: DataFrame*)(f: (Int, DataFrame, Long) => Unit): Unit =
    run(outs.head.sparkSession, outs.zipWithIndex.map { case (o, i) =>
      o.writeStream.foreachBatch { (b: DataFrame, id: Long) => f(i, b, id) }
    })

  private def run(s: SparkSession, writers: Seq[DataStreamWriter[_]]): Unit = {
    val parts = "spark.sql.shuffle.partitions"
    val ckpt = "spark.sql.streaming.checkpointLocation"
    val prevParts = s.conf.get(parts)
    val prevCkpt = s.conf.getOption(ckpt)
    // a fresh root per run on the scratch volume: a stream never resumes
    // an earlier run's checkpoint, and its per-batch offset/commit log
    // and state-store fsyncs stay off the java.io.tmpdir disk
    val root = graft.Scratch.fresh("stream_ckpt").getPath
    s.conf.set(parts, StatePartitions.toString)
    s.conf.set(ckpt, root)
    try {
      val qs = writers.map(_.trigger(Trigger.AvailableNow()).start())
      try qs.foreach(_.awaitTermination()) finally qs.foreach(_.stop())
      record(qs)
    } finally {
      s.conf.set(parts, prevParts)
      prevCkpt match {
        case Some(v) => s.conf.set(ckpt, v)
        case None => s.conf.unset(ckpt)
      }
      graft.Scratch.delete(root)
    }
  }

  private def record(qs: Seq[StreamingQuery]): Unit = {
    import graft.core.Counters
    val progress = qs.flatMap(_.recentProgress)
    Counters.add("stream.batches", progress.size.toLong)
    progress.foreach { p =>
      p.durationMs.forEach((k, v) => Counters.add(s"stream.${k}_ms", v.longValue))
      Counters.add("stream.state_rows_removed",
        p.stateOperators.map(_.numRowsRemoved).sum)
    }
  }
}
