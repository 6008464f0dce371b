package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Sequence-file sources and sinks (SURVEY §2.1):
  *  - S1 raw text FASTQ/FASTA lines via `spark.read.text`
  *  - P1 FASTQ records through the `fastq` source ([[FastqDataSource]]:
  *    exact 4-line records, split-safe, any file/split layout) — the one
  *    record parser; the CLI's `-fastq`/`-fastq2` inputs read through it
  *  - P2 line-shape sequence filter, kept only for line streams that come
  *    without record framing (the `-inputformat` codec seam), semantics per
  *    `ReflexivDataFrameCounter.java:238-332`
  *  - P14 read guards (length / charset)
  *  - S4 multi-line FASTA source
  *  - S6 FASTA sink with `>Contig-<i>-<len>` headers and 100-col wrap
  *  - P12 seq -> 4-line FASTQ fabrication (fake `I` quals)
  *  - S5 CSV k-mer table sink/source is plain `spark.read/write.csv`
  *    (Parquet preferred between stages — see StageRunner).
  */
object Fastq {

  // ------------------------------------------------------------- sources

  /** S1: raw lines. */
  def readLines(spark: SparkSession, path: String): Dataset[String] = {
    import spark.implicits._
    spark.read.text(path).as[String]
  }

  /** S2 hook: raw lines through a NAMED Hadoop `FileInputFormat` class
    * (`-inputformat` on the CLI). The reference reads `.4mc`-compressed
    * FASTQ through a custom splittable input format
    * (`ReflexivDataFrameCounter.java:160-174`); the codec jar itself is
    * third-party, so the engine exposes the seam instead of bundling it —
    * any `FileInputFormat[LongWritable, Text]` on the classpath works
    * (hadoop-4mc's `FourMcTextInputFormat`, a BGZF reader, ...).
    *
    * Compressed FASTQ at scale, in preference order:
    *  1. a splittable container: `.gb4z` through the `fastq` source (one
    *     task per block range), or a third-party codec (4mc / BGZF /
    *     bzip2) through this hook — one task per block;
    *  2. many moderate `.gz`/`.bz2` shards (the usual lane-split layout)
    *     through the `fastq` source: each file is one task, but thousands
    *     of files still parallelize;
    *  3. a single giant `.gz`/`.bz2` given to `-fastq` is a single task —
    *     re-shard it, or read a `.bz2` through this hook.
    */
  def readLinesWithFormat(spark: SparkSession, path: String,
                          inputFormatClass: String): Dataset[String] = {
    import spark.implicits._
    import org.apache.hadoop.io.{LongWritable, Text}
    import org.apache.hadoop.mapreduce.lib.input.FileInputFormat
    val cls = Class.forName(inputFormatClass, true,
        Thread.currentThread.getContextClassLoader)
      .asInstanceOf[Class[FileInputFormat[LongWritable, Text]]]
    spark.sparkContext
      .newAPIHadoopFile(path, cls, classOf[LongWritable], classOf[Text],
        spark.sparkContext.hadoopConfiguration)
      .map(_._2.toString)
      .toDS()
  }

  /** P1: the sequence of every FASTQ record, read by the `fastq` source
    * with only `seq` projected. Records come in input order: file name,
    * then byte offset. */
  def fastqSequences(spark: SparkSession, path: String): Dataset[String] = {
    import spark.implicits._
    spark.read.format("fastq").load(path).select("seq").as[String]
  }

  /** P2 over a plain-text path: [[filterSequenceLines]] on its raw lines.
    * No CLI input reads through it; perfbench's traced read probe
    * (`Harness.readReads`) still does. */
  def fastqSequencesHeuristic(spark: SparkSession, path: String): Dataset[String] =
    filterSequenceLines(readLines(spark, path))

  /** The P2 shape filter on a line stream without record framing (the
    * `-inputformat` codec seam and f24). A line is kept when it is longer
    * than 20 and its characters at 0, 4, 9, 14 and 19 are all ACGTN — so a
    * quality line of only such letters (MiSeq's `CCCCCGGGGG...`) passes as
    * a read. Use [[fastqSequences]] wherever the input is a FASTQ file. */
  def filterSequenceLines(lines: Dataset[String]): Dataset[String] =
    lines.filter { l =>
      l.length > 20 && !l.startsWith("@") && !l.startsWith("+") &&
        Seq(0, 4, 9, 14, 19).forall(i => "ACGTN".indexOf(l.charAt(i)) >= 0)
    }

  /** P1-paired: two file sets of paired FASTQ -> (pair_id, mate1, mate2).
    * Mates pair positionally — record i of set 1 with record i of set 2,
    * `i` counted over [[fastqSequences]]' partitions, which run in file-name
    * then offset order — via an equality join on the record index: the
    * same contract as the reference's ID-sort pairing
    * (`ReflexivDataFrameDecompresser.java:287`), but a distributed hash join
    * instead of a total sort. */
  def readPairedFastq(spark: SparkSession, path1: String, path2: String): DataFrame = {
    import spark.implicits._
    def mates(p: String) = fastqSequences(spark, p).rdd.zipWithIndex().map(_.swap)
    mates(path1).toDF("pair_id", "mate1")
      .join(mates(path2).toDF("pair_id", "mate2"), "pair_id")
  }

  /** Interleave paired mates into a single read stream (the counting and
    * assembly paths treat mates as independent reads, like the reference's
    * decompresser output). */
  def interleavePairs(pairs: DataFrame): Dataset[String] = {
    import pairs.sparkSession.implicits._
    pairs.select(explode(array(col("mate1"), col("mate2"))).as("read")).as[String]
  }

  /** FLASH-style in-engine mate merge: when a sequenced fragment is
    * shorter than twice the read length, mate1's 3' end overlaps the
    * reverse complement of mate2 — merge the pair into one long pseudo-
    * read. The reference pipes reads through an external `flash` binary
    * for this (`ReflexivDataFrameDecompresser.java:255-302`); here it is
    * a pure Catalyst row expression (higher-order `filter` over candidate
    * overlap lengths + `substr` compare), so it stays inside whole-stage
    * codegen with no subprocess, no shuffle, and no UDF. Exact-match
    * overlap, largest candidate wins; pairs with no overlap >= minOverlap
    * pass through unmerged (merged = NULL).
    * Input columns: mate1, mate2. Adds: best_ov, merged. */
  def mergePairs(pairs: DataFrame, minOverlap: Int = 10): DataFrame = {
    val rc2 = reverse(translate(col("mate2"), "ACGT", "TGCA"))
    pairs
      .withColumn("rc2", rc2)
      // guard: Spark's sequence(a, b) DESCENDS when b < a (short reads),
      // where DuckDB's generate_series is empty — emit [] explicitly
      .withColumn("cand",
        when(least(length(col("mate1")), length(col("rc2"))) >= minOverlap,
          sequence(lit(minOverlap), least(length(col("mate1")), length(col("rc2")))))
          .otherwise(array().cast("array<int>")))
      .withColumn("best_ov", array_max(filter(col("cand"),
        o => col("mate1").substr(length(col("mate1")) - o + 1, o) ===
          col("rc2").substr(lit(1), o))))
      .withColumn("merged",
        when(col("best_ov").isNotNull,
          concat(col("mate1"),
            col("rc2").substr(col("best_ov") + 1,
              length(col("rc2")) - col("best_ov")))))
      .drop("rc2", "cand")
  }

  /** P14: read guards — minimum/maximum length, valid leading charset. */
  def guardReads(reads: Dataset[String], minLen: Int, maxLen: Int = 600): Dataset[String] =
    reads.filter(r => r.length >= minLen && r.length < maxLen &&
      r.nonEmpty && "ACGTN".indexOf(r.charAt(0)) >= 0)

  /** S4: multi-line FASTA -> (id, seq), split-safe and fully parallel: the
    * Hadoop line reader runs with a custom record delimiter `"\n>"`, so
    * every input record IS one whole FASTA entry regardless of where HDFS
    * block/split boundaries fall — a reader that starts mid-record skips
    * forward to the next delimiter and the previous split reads through,
    * exactly like ordinary line splitting. No driver-side offset pass, no
    * partition-order assumption, and a single 100 GB FASTA file parallels
    * across all executors. */
  def readFasta(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    import org.apache.hadoop.io.{LongWritable, Text}
    import org.apache.hadoop.mapreduce.lib.input.TextInputFormat
    val conf = new org.apache.hadoop.conf.Configuration(
      spark.sparkContext.hadoopConfiguration)
    conf.set("textinputformat.record.delimiter", "\n>")
    spark.sparkContext
      .newAPIHadoopFile(path, classOf[TextInputFormat],
        classOf[LongWritable], classOf[Text], conf)
      .map(_._2.toString)
      .toDS()
      .filter(r => r.nonEmpty && r != ">")
      .map { rec =>
        // only the file's first record keeps its leading '>'
        val body = if (rec.startsWith(">")) rec.substring(1) else rec
        val nl = body.indexOf('\n')
        if (nl < 0) (body, "")
        else (body.substring(0, nl),
          body.substring(nl + 1).replace("\n", "").replace("\r", ""))
      }
      .toDF("id", "seq")
      .filter(col("seq") =!= "")
  }

  // --------------------------------------------------------------- sinks

  /** P11 + S6: tag contigs `>Contig-<row>-<len>` (deterministic order by
    * sequence) and 100-column-wrap the sequence. Returns the formatted
    * text lines; write with `.write.text(path)`.
    *
    * Distributed id assignment (the reference's own P11 pattern,
    * `ReflexivDSMain.java:715-740`): a range-partitioned sort gives total
    * order across partitions, then `zipWithIndex` (one tiny count job)
    * turns per-partition positions into exact global row numbers — every
    * stage stays parallel, vs. the 1-task global `Window.orderBy` this
    * replaces (VERDICT r2 "what's wrong" #3). */
  def formatFasta(contigs: DataFrame, seqCol: String = "contig"): DataFrame = {
    val s = contigs.sparkSession
    import s.implicits._
    contigs.select(col(seqCol).cast("string").as("seq"))
      .orderBy("seq")
      .as[String]
      .rdd.zipWithIndex()
      .map { case (seq, i) =>
        s">Contig-${i + 1}-${seq.length}\n" + seq.grouped(100).mkString("\n")
      }
      .toDF("value")
  }

  /** S6: write contigs as a FASTA file tree (partitioned; each record is a
    * whole row, so records never span files). */
  def writeFasta(contigs: DataFrame, path: String, seqCol: String = "contig"): Unit =
    formatFasta(contigs, seqCol).write.mode("overwrite").text(path)

  /** P12: seq -> 4-line FASTQ with fabricated quality. */
  def toFastqLines(seqs: DataFrame, seqCol: String = "read"): DataFrame =
    seqs.select(explode(array(
      concat(lit("@r"), monotonically_increasing_id()),
      col(seqCol),
      lit("+"),
      regexp_replace(col(seqCol), ".", "I"))).as("value"))

  /** S5: gzip CSV sink for (kmer,count)-style interchange tables. */
  def writeCsv(df: DataFrame, path: String, gzip: Boolean = true): Unit = {
    val w = df.write.mode("overwrite")
    (if (gzip) w.option("compression", "gzip") else w).csv(path)
  }
}
