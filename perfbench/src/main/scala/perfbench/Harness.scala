package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}

import graft.operators._
import graft.sources.Fastq
import graft.streaming.EventStreams

/** Benchmark harness JVM:
  *
  * {{{
  * Harness <workload> <inputDir> <workDir> <seconds> <trace 0|1> <result.json>
  * }}}
  *
  * Set-up: build a SparkSession the way `graft.Main` does, register the
  * program's SQL functions and run one small query, then print READY (the
  * caller times launch -> READY). Four more set-ups follow in the warm JVM,
  * each after stopping the previous session, timed here.
  *
  * Then an untimed warm-up pass and timed passes until `seconds` have
  * elapsed (at least three). Each pass calls `graft.Main.main` exactly as the
  * CLI does, so each builds and stops its own SparkSession. With trace 1 the
  * passes alternate between that untraced form and a traced form that calls
  * each layer's public functions from here, inside spans, with the trace
  * listeners on (the difference of the two medians is the tracing
  * overhead); then [[probes]] covers the layers the command does not reach.
  * Outputs stay in `workDir/pass<i>` for the caller to check.
  */
object Harness {
  /** local[N] parallelism, read the way `graft.Main` reads it. */
  val Cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
  val K = 31
  // graft.Main defaults for -cover 2: -error = 4 * cover, -mincontig 500,
  // -maxiter 150, -maxcov 10000000
  val MinCov = 2
  val MinError = 8
  val MinContig = 500
  val MaxIter = 150
  val MaxCov = 10000000L

  /** Set-ups timed in the warm JVM after the first one. */
  val WarmSetups = 4
  /** Untimed passes before timing starts. */
  val WarmupPasses = 1
  /** The median of three passes is never the first, slowest one. */
  val MinPasses = 3

  val Oracles = Map("curate_corpus" -> "c6_curate_split")

  def main(args: Array[String]): Unit = {
    setUp()
    println("READY")
    System.out.flush()
    val again = Seq.fill(WarmSetups) {
      val t0 = System.nanoTime()
      setUp()
      (System.nanoTime() - t0) / 1e9
    }
    run(args(0), args(1), args(2), args(3).toDouble, args(4) == "1", args(5), again)
  }

  /** CPU time of this JVM, all threads. */
  def cpuNanos(): Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** One set-up: session, SQL functions, a first query; then stop. */
  def setUp(): Unit = {
    useListeners(traced = false)
    val spark = session()
    graft.functions.GraftFunctions.register(spark)
    spark.range(0, 1000, 1, Cpus).selectExpr("sum(id)").collect()
    spark.stop()
  }

  /** The session `graft.Main` builds (master, shuffle partitions, no UI). */
  def session(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cpus]")
      .config("spark.sql.shuffle.partitions", Cpus.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Listener classes are read from system properties when a SparkContext
    * is created, so this takes effect on the next session. */
  def useListeners(traced: Boolean): Unit =
    if (traced) {
      System.setProperty("spark.extraListeners", "perfbench.TraceProbe")
      System.setProperty("spark.sql.queryExecutionListeners", "perfbench.PlanProbe")
    } else {
      System.setProperty("spark.extraListeners", "perfbench.PeakProbe")
      System.clearProperty("spark.sql.queryExecutionListeners")
    }

  final case class Pass(index: Int, traced: Boolean, start: Long, end: Long,
                        out: String, error: String, layers: Map[String, Double])

  def run(workload: String, in: String, work: String, seconds: Double,
          trace: Boolean, result: String, setups: Seq[Double]): Unit = {
    val passes = ArrayBuffer.empty[Pass]
    val calib = ArrayBuffer.empty[Double]
    var i = 0
    def onePass(traced: Boolean, timed: Boolean): Unit = {
      val out = s"$work/pass$i"
      useListeners(traced)
      Probe.peakTaskMem.set(0L)
      val spanStart = Spans.all.size
      val c0 = cpuNanos()
      val t0 = System.currentTimeMillis()
      val err =
        try { Spans("pass", s"$workload#$i")(pass(workload, in, out, traced)); "" }
        catch {
          case e: Throwable =>
            SparkSession.getActiveSession.foreach(_.stop())
            s"${e.getClass.getName}: ${e.getMessage}"
        }
      val t1 = System.currentTimeMillis()
      val cpu = (cpuNanos() - c0) / 1e9
      if (!timed) Spans.clear()
      else {
        val layers =
          if (traced) Layers.of(Spans.all.drop(spanStart), t0, t1)
          else Map.empty[String, Double]
        passes += Pass(i, traced, t0, t1, out, err, layers ++ Map("jvm.cpu_s" -> cpu,
          "spark.mem.peak_task_mb" -> Probe.peakTaskMem.get / 1048576.0))
      }
      calib += Layers.calibrate()
      i += 1
    }
    // warm-up on the same inputs as the timed passes, so its plans, and so
    // the generated code and the JIT profile, match theirs: class loading
    // and most compilation land here. The JIT keeps pass times falling for
    // several passes more (see MinPasses).
    val w0 = System.currentTimeMillis()
    (0 until WarmupPasses).foreach(_ => onePass(traced = false, timed = false))
    val warmup = (System.currentTimeMillis() - w0) / 1000.0
    val deadline = System.currentTimeMillis() + (seconds * 1000).toLong
    var n = 0
    while (n < MinPasses || System.currentTimeMillis() < deadline) {
      onePass(traced = trace && n % 2 == 0, timed = true)
      n += 1
    }
    val probed = if (trace) probes(workload, in, work) else Map.empty[String, Double]
    if (trace) Spans.attachEngine()
    Json.write(result, Map(
      "workload" -> workload,
      "setup_s" -> setups,
      "warmup_s" -> warmup,
      "passes" -> passes.map(p => Map(
        "index" -> p.index, "traced" -> p.traced, "start_ms" -> p.start,
        "end_ms" -> p.end, "wall_s" -> (p.end - p.start) / 1000.0,
        "out" -> p.out, "error" -> p.error, "layers" -> p.layers)).toSeq,
      "calib_ms" -> calib.toSeq,
      "probes" -> probed,
      "oracle_sql" -> Oracles.get(workload).map(graft.SparkEntry.oracleSql).orNull,
      "spans" -> (if (!trace) Seq.empty else Spans.all.map(s => Map(
        "id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
        "start_ms" -> s.start, "end_ms" -> s.end,
        "self_ms" -> Spans.selfTime(s))))))
  }

  /** One workload pass. */
  def pass(workload: String, in: String, out: String, traced: Boolean): Unit =
    (workload, traced) match {
      case ("genome_run", false) =>
        graft.Main.main(Array("run", "-fastq", s"$in/reads/*.fq", "-kmer", K.toString,
          "-outfile", out))
      case ("curate_corpus", false) =>
        graft.Main.main(Array("curate", "-split", "-docs", s"$in/documents.parquet",
          "-outfile", out))
      case ("genome_run", true) => tracedRun(in, out)
      case ("curate_corpus", true) => tracedCurate(in, out)
      case _ => sys.error(s"unknown workload $workload")
    }

  def layer[T](name: String)(body: => T): T = Spans("layer", name)(body)

  def readReads(spark: SparkSession, in: String) = layer("sources.fastq_read") {
    Fastq.guardReads(Fastq.fastqSequencesHeuristic(spark, s"$in/reads/*.fq"), K)
      .localCheckpoint()
  }

  /** `graft.Main run`, one public call per layer, each materialized so
    * its work lands inside its own span. */
  def tracedRun(in: String, out: String): Unit = {
    val spark = layer("spark.session")(session())
    val reads = readReads(spark, in)
    graft.functions.GraftFunctions.register(spark)
    val counts = layer("genomics.count") {
      Genomics.countCanonical(reads, K).localCheckpoint()
    }
    layer("genomics.distinct")(Layers.note("genomics.distinct_kmers", counts.count()))
    val contigs = layer("assembler.assemble") {
      Probe.snapCounters()
      val c = Assembler.assemble(counts.filter(col("count") <= MaxCov), K,
        minCov = MinCov, maxIter = MaxIter, minContig = MinContig,
        minError = MinError).cache()
      c.count()
      Probe.snapCounters()
      c
    }
    layer("sources.output_write")(Fastq.writeFasta(contigs.toDF("contig"), s"$out/Assembly"))
    spark.stop()
  }

  /** `graft.Main curate -split`. */
  def tracedCurate(in: String, out: String): Unit = {
    val spark = layer("spark.session")(session())
    val docs = spark.read.parquet(s"$in/documents.parquet")
    val corpus = docs.filter(col("doc_id") % 100 =!= 0)
    val test = docs.filter(col("doc_id") % 100 === 0)
    val flags = layer("curation.curate") {
      val f = Curation.curate(corpus, test, None, clusterSplit = true).cache()
      f.write.mode("overwrite").parquet(s"$out/curation_flags")
      f
    }
    layer("sources.output_write") {
      corpus.join(flags.filter(col("keep") === 1).select("doc_id", "split"), "doc_id")
        .write.mode("overwrite").parquet(s"$out/curated")
    }
    layer("curation.report") {
      flags.agg(count(lit(1)), sum(col("keep"))).collect()
    }
    spark.stop()
  }

  /** Layers the workload's CLI command does not reach, called once after
    * the timed passes on the same inputs (traced runs only):
    *  - genome_run: the `graft.Main meta -klist 31,41` pipeline on the same
    *    reads (multi-k count, durable stage files, the block-key assembler);
    *  - curate_corpus: the curation verdict's inner layers standalone, and
    *    the corpus replayed as a document stream through the streaming
    *    ingest gate. */
  def probes(workload: String, in: String, work: String): Map[String, Double] = {
    useListeners(traced = true)
    val t0 = System.currentTimeMillis()
    val out = Spans("pass", s"$workload#probe") {
      workload match {
        case "genome_run" =>
          val spark = session()
          val reads = readReads(spark, in)
          layer("pipelines.dynamic_assembly") {
            Probe.snapCounters()
            Pipelines.dynamicAssembly(spark, reads, Seq(31, 41), s"$work/probe/stages",
              minCov = MinCov, minContig = MinContig, minError = MinError).count()
            Probe.snapCounters()
          }
          spark.stop()
          Layers.metaStages(s"$work/probe/stages")
          Map.empty[String, Double]
        case "curate_corpus" =>
          Layers.curationProbe(in) ++ Layers.streaming(streamProbe(in, work))
      }
    }
    val t1 = System.currentTimeMillis()
    val spans = Spans.all.filter(s => s.start >= t0 && s.end <= t1)
    Layers.of(spans, t0, t1).filter { case (k, _) =>
      ProbeLayers.exists(k.startsWith)
    } ++ out
  }

  /** Replay the documents as ordered files, one per trigger (the program's
    * own `streaming.Replay`, which also re-ingests every 10th document
    * later so the dedup state works across batches), through
    * `EventStreams.curateStream` with a file checkpoint. Returns the
    * progress record of every micro-batch. */
  def streamProbe(in: String, work: String): Seq[Layers.Batch] = {
    val spark = session()
    val dir = graft.streaming.Replay.documentsDir(spark, in, buckets = StreamBatches)
    val schema = spark.read.parquet(dir).schema
    val runs = (0 until 2).map { r => // two replays, for enough tail samples
      val q = layer("streaming.replay") {
        val q = EventStreams.curateStream(spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1").parquet(dir))
          .writeStream.format("noop").outputMode("append")
          .option("checkpointLocation", s"$work/probe/stream_ckpt$r")
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        q
      }
      q.exception.foreach(e => throw e)
      q.recentProgress.toSeq.map(progress)
    }
    spark.stop()
    runs.flatten
  }

  val StreamBatches = 20
  /** Metrics the probes own; the rest of the probe window is not a pass. */
  val ProbeLayers = Seq("sources.stage_mb", "pipelines.", "assembler_wide.")

  def progress(p: StreamingQueryProgress): Layers.Batch = {
    val st = p.stateOperators
    Layers.Batch(p.batchId, p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      st.map(_.numRowsTotal).sum, st.map(_.commitTimeMs).sum, st.map(_.memoryUsedBytes).sum)
  }
}

/** Minimal JSON writer for the result file (maps, sequences, numbers,
  * strings, booleans). */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case a: Array[_] => render(a.toSeq)
    case o => quote(o.toString)
  }
  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def write(path: String, v: Any): Unit = {
    Files.write(Paths.get(path), render(v).getBytes("UTF-8"))
    ()
  }
}
