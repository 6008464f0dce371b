package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, GraphOps, Shingles}

/** Per-layer metrics of one traced pass, computed from the harness spans
  * and the listener records that fall inside them. Names are
  * `<module>.<metric>`; a layer the workload does not reach is absent and
  * reported as 0 by the caller. */
object Layers {
  private val notes = scala.collection.mutable.Map.empty[String, Double]

  /** A count the harness reads while tracing (e.g. rows of a layer's
    * output), attached to the current pass. */
  def note(key: String, v: Long): Unit = notes(key) = v.toDouble

  private val MB = 1048576.0

  def of(spans: Seq[Span], t0: Long, t1: Long): Map[String, Double] = {
    val out = scala.collection.mutable.Map.empty[String, Double] ++ notes
    notes.clear()
    val tasks = Probe.tasks.asScala.toSeq.filter(t => t.end >= t0 && t.end <= t1)
    val jobs = Probe.jobs.asScala.toSeq.filter(j => j.start >= t0 && j.start <= t1)
    val stages = Probe.stages.asScala.toSeq.filter(s => s.start >= t0 && s.start <= t1)
    val plans = Probe.plans.asScala.toSeq.filter(p => p.end >= t0 && p.end <= t1)
    def span(name: String): Option[Span] = spans.filter(_.name == name).lastOption
    def within[T](s: Span, ts: Seq[T])(at: T => Long) =
      ts.filter(x => at(x) >= s.start && at(x) <= s.end)
    def secs(s: Span) = s.dur / 1000.0

    val timed = Map(
      "sources.fastq_read" -> "sources.fastq_read_s",
      "sources.output_write" -> "sources.output_write_s",
      "genomics.count" -> "genomics.count_s",
      "assembler.assemble" -> "assembler.assemble_s",
      "assembler_wide.assemble" -> "assembler_wide.assemble_s",
      "pipelines.multik_count" -> "pipelines.multik_count_s",
      "pipelines.round.k31" -> "pipelines.round_s.k31",
      "pipelines.round.k41" -> "pipelines.round_s.k41",
      "curation.curate" -> "curation.curate_s")
    timed.foreach { case (n, m) => span(n).foreach(s => out(m) = secs(s)) }

    span("genomics.count").foreach { s =>
      out("genomics.shuffle_mb") = within(s, tasks)(_.end).map(_.shWriteBytes).sum / MB
    }
    span("assembler.assemble").foreach { s =>
      counterDelta(s, "assembler.", "assembler.", out)
      out("assembler.jobs") = within(s, jobs)(_.start).size
      out("assembler.endgame_task_s") =
        within(s, stages)(_.start).filter(_.tasks == 1)
          .map(x => (x.end - x.start) / 1000.0).maxOption.getOrElse(0.0)
    }
    span("assembler_wide.assemble").foreach { s =>
      counterDelta(s, "assembler.rounds", "assembler_wide.", out)
    }
    span("pipelines.dynamic_assembly").foreach { s =>
      out("sources.stage_mb") = within(s, tasks)(_.end).map(_.outBytes).sum / MB
    }
    span("curation.curate").foreach { s =>
      out("curation.exchanges") = within(s, plans)(_.end).map(_.exchanges).maxOption
        .getOrElse(0).toDouble
    }

    // the engine underneath, over the whole pass
    out("spark.plan.analysis_ms") = plans.map(_.analysisMs).sum
    out("spark.plan.optimization_ms") = plans.map(_.optimizationMs).sum
    out("spark.plan.planning_ms") = plans.map(_.planningMs).sum
    out("spark.sched.jobs") = jobs.size
    out("spark.sched.stages") = stages.size
    out("spark.sched.tasks") = tasks.size
    out("spark.sched.task_retries") = tasks.count(_.retry)
    out("spark.sched.driver_gap_s") = (t1 - t0 - Spans.covered(jobs.map(j => (j.start, j.end)))) / 1000.0
    out("spark.exec.run_s") = tasks.map(_.runMs).sum / 1000.0
    out("spark.exec.cpu_s") = tasks.map(_.cpuNs).sum / 1e9
    out("spark.exec.gc_s") = tasks.map(_.gcMs).sum / 1000.0
    out("spark.exec.task_skew") = tasks.groupBy(_.stage).values.filter(_.size >= 2)
      .map { ts =>
        val d = ts.map(_.durMs.toDouble).sorted
        val med = d(d.size / 2)
        if (med > 0) d.last / med else 1.0
      }.maxOption.getOrElse(1.0)
    out("spark.exec.max_task_input_rows") = tasks.map(_.inRows).maxOption.getOrElse(0L).toDouble
    out("spark.shuffle.write_mb") = tasks.map(_.shWriteBytes).sum / MB
    out("spark.shuffle.read_mb") = tasks.map(_.shReadBytes).sum / MB
    out("spark.shuffle.records") = tasks.map(_.shWriteRecs).sum.toDouble
    out("spark.mem.spill_mb") = tasks.map(_.spillBytes).sum / MB
    out.toMap
  }

  /** Change of the program's counters (keys starting with `prefix`) across
    * `s`, from the snapshots taken at span edges and job starts. Reported
    * under `rename` + the key's last segment. */
  private def counterDelta(s: Span, prefix: String, rename: String,
                           out: scala.collection.mutable.Map[String, Double]): Unit = {
    val snaps = Probe.counters.asScala.toSeq.sortBy(_.at)
    def at(t: Long) = snaps.filter(_.at <= t).lastOption.map(_.values).getOrElse(Map.empty)
    graft.core.Counters.diff(at(s.start), at(s.end)).filter(_._1.startsWith(prefix))
      .foreach { case (k, v) => out(rename + k.split('.').last) = v.toDouble }
  }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; s(s.size / 2) }

  /** One micro-batch's progress: phase durations (ms) and the state
    * store after it. */
  final case class Batch(id: Long, phases: Map[String, Long], stateRows: Long,
                         stateCommitMs: Long, stateMemBytes: Long) {
    def phase(p: String): Double = phases.getOrElse(p, 0L).toDouble
  }

  /** Streaming metrics over micro-batch progress records: batch latency
    * (the triggerExecution phase: median, and the highest of
    * p99/p95/p90/p75 with at least ten batches beyond it), median
    * per-batch phase times, and the state store at the last batch. */
  def streaming(batches: Seq[Batch]): Map[String, Double] = {
    val lat = batches.map(_.phase("triggerExecution")).sorted
    val (tailPct, tail) = Seq(99.0, 95.0, 90.0, 75.0)
      .find(p => lat.size * (1 - p / 100) >= 10)
      .map(p => p -> lat(math.min(lat.size - 1, (lat.size * p / 100).toInt)))
      .getOrElse(50.0 -> median(lat))
    val last = batches.maxBy(_.id)
    def med(f: Batch => Double) = median(batches.map(f))
    Map(
      "streaming.batches" -> batches.size.toDouble,
      "streaming.batch_p50_ms" -> median(lat),
      "streaming.batch_tail_ms" -> tail,
      "streaming.batch_tail_pct" -> tailPct,
      "streaming.add_batch_ms" -> med(_.phase("addBatch")),
      "streaming.wal_commit_ms" -> med(_.phase("walCommit")),
      "streaming.query_planning_ms" -> med(_.phase("queryPlanning")),
      "streaming.get_batch_ms" -> med(_.phase("getBatch")),
      "streaming.state_rows" -> last.stateRows.toDouble,
      "streaming.state_commit_ms" -> med(_.stateCommitMs.toDouble),
      "streaming.state_mem_mb" -> last.stateMemBytes / MB)
  }

  /** Split the dynamic-k pipeline span by the commit times of the stage
    * directories it wrote (`_SUCCESS` mtimes): the multi-k count, then one
    * round per k (its reduced-count stage and its assembly); the k=41
    * round's assembly is the block-key assembler. */
  def metaStages(stageDir: String): Unit = {
    val parent = Spans.all.filter(_.name == "pipelines.dynamic_assembly").last
    def done(name: String): Long = new File(s"$stageDir/$name/_SUCCESS").lastModified()
    val multik = done("count_multik")
    Spans.add(parent.id, "layer", "pipelines.multik_count", parent.start, multik)
    var prev = multik
    Seq(31, 41).foreach { k =>
      val contigs = done(s"contigs_k$k")
      val round = Spans.add(parent.id, "layer", s"pipelines.round.k$k", prev, contigs)
      if (k > 31)
        Spans.add(round, "layer", "assembler_wide.assemble", done(s"count_k${k}_reduced"), contigs)
      prev = contigs
    }
  }

  /** The curation pass's inner layers, called standalone on the same train
    * and test split (outside any timed pass, so they add nothing to
    * `job_s`): LSH near-dup pairs with the raw candidate count they come
    * from, connected components over them, and 5-gram decontamination. */
  def curationProbe(in: String): Map[String, Double] = {
    var out = Map.empty[String, Double]
    (0 until 2).foreach { _ => // the second round is the warm one
      val spark = Harness.session()
      val docs = spark.read.parquet(s"$in/documents.parquet")
      val base = graft.Tables.spread(
        docs.filter(col("doc_id") % 100 =!= 0).select("doc_id", "text"), col("doc_id"))
        .localCheckpoint()
      val test = docs.filter(col("doc_id") % 100 === 0).select("doc_id", "text")
      def timed[T](name: String)(body: => T): (T, Double) = {
        val t0 = System.nanoTime()
        val v = Spans("layer", name)(body)
        (v, (System.nanoTime() - t0) / 1e9)
      }
      val (pairs, ndS) = timed("dedup.near_dup") {
        val p = Dedup.nearDupPairs(base).localCheckpoint()
        p.count(); p
      }
      val nPairs = pairs.count()
      val cand = Dedup.bandRows(base).groupBy("bid", "bh").count()
        .agg(sum(col("count") * (col("count") - 1) / 2)).first()
      val nCand = if (cand.isNullAt(0)) 0.0 else cand.getDouble(0)
      val (_, ccS) = timed("graphops.cc") {
        GraphOps.connectedComponents(pairs.select(col("a").as("x"), col("b").as("y")))
          .localCheckpoint().count()
      }
      val (_, dcS) = timed("shingles.decontam") {
        val testSh = Shingles.wordNGrams(test, 5).select("sh").distinct()
        Shingles.wordNGrams(base, 5).join(broadcast(testSh), "sh")
          .select("doc_id").distinct().count()
      }
      spark.stop()
      out = Map("dedup.near_dup_s" -> ndS, "dedup.candidate_pairs" -> nCand,
        "dedup.neardup_pairs" -> nPairs.toDouble,
        "dedup.pair_yield" -> (if (nCand > 0) nPairs / nCand else 0.0),
        "graphops.cc_s" -> ccS, "shingles.decontam_s" -> dcS)
    }
    out
  }

  @volatile private var sink = 0L

  /** Host-speed index: a fixed single-threaded integer kernel (xorshift),
    * in milliseconds. It does no Spark work, so it moves only with the
    * host. */
  def calibrate(): Double = {
    val t0 = System.nanoTime()
    var x = 88172645463325252L
    var acc = 0L
    var i = 0
    while (i < 40000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      acc += x & 1023
      i += 1
    }
    sink = acc
    (System.nanoTime() - t0) / 1e6
  }
}
