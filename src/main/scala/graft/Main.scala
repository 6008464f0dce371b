package graft

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Assembler, Dynamic, Genomics, Patching, Pipelines, Rescue}
import graft.sources.Fastq

/** CLI surface mirroring the reference's subcommands and option set
  * (`bin/reflexiv`; options `Parameter.java:68-147`, defaults
  * `DefaultParam.java:54-145`):
  *
  * {{{
  * runMain graft.Main counter    -fastq <glob> -kmer 31 -cover 2 -outfile <dir>
  * runMain graft.Main run        -fastq <glob> -kmer 31 -cover 2 -outfile <dir>
  * runMain graft.Main meta       -fastq <glob> -klist 23,31,41,... -outfile <dir>
  * runMain graft.Main reassemble -contig <fasta> -fastq <glob> -outfile <dir>
  * runMain graft.Main mercy      -fastq <glob> -kmer 31 -cover 2 -outfile <dir>
  * runMain graft.Main merger     -contig <fasta> -overlap 30 -outfile <dir>
  * runMain graft.Main stitch     -fastq <glob> -kmer 31 -outfile <dir>
  * runMain graft.Main reduce     -kmerc1 <csv> -kmerc2 <csv> -outfile <dir>
  * runMain graft.Main extend     -contig <fasta> -sam <sam> -outfile <dir>
  * }}}
  *
  * Input options: `-fastq <glob>` reads (heuristic line filter by default;
  * `-exact-fastq` forces the 4-line parser); `-fastq2 <glob>` mate-2 file
  * (two-file paired mode); `-merge` overlap-merges mate pairs in-engine
  * (the reference's external `flash` step, `ReflexivDataFrameDecompresser
  * .java:255-302`) before counting; `-inter` marks the input as interleaved paired
  * (consumed as a single stream — pairing carries no extra signal for
  * k-mer counting); `-fasta <glob>` FASTA reads; `-contig <fasta>`
  * existing contigs (reassemble/merger); `-kmerc <csv>` a pre-counted
  * `(kmer,count)` table replacing the counting stage of `run`;
  * `-reads N` caps the number of input reads.
  *
  * Tuning options (reference defaults): `-kmer 31`, `-klist
  * 23,31,41,53,67,81,95`, `-cover 2` (min k-mer coverage), `-maxcov
  * 10000000` (max k-mer coverage — repeats/contamination clamp),
  * `-clipf/-clipe 0` (clip N bases off read front/end), `-minlength k`
  * (min read length), `-mincontig 500`, `-maxiter 150` (contraction-round
  * cap), `-overlap k-1` (merger splice overlap), `-bubble` (DISABLE
  * bubble popping, as in the reference: forks are then left unresolved
  * and both arms surface as separate contigs), `-gzip` (gzip the CSV
  * sink), `-partition N` (repartition the input reads), `-partitionredu N`
  * (shuffle partitions).
  */
object Main {
  private def opt(args: Array[String], name: String, dflt: String): String =
    args.sliding(2).collectFirst { case Array(`name`, v) => v }.getOrElse(dflt)

  private val knownOpts = Set(
    "-fastq", "-fastq2", "-fasta", "-contig", "-kmerc", "-kmerc1", "-kmerc2",
    "-sam", "-aligner", "-docs", "-testdocs", "-embeddings", "-classifier",
    "-outfile", "-kmer", "-klist", "-cover", "-maxcov", "-error",
    "-mincontig", "-maxiter", "-clipf", "-clipe", "-minlength", "-reads",
    "-partition", "-partitionredu", "-overlap", "-rounds",
    "-bubble", "-gzip", "-single", "-inter", "-paired", "-exact-fastq", "-mercy",
    "-merge", "-scramble", "-inputformat", "-dsir", "-split", "-sf")

  /** Typo guard: an unrecognized -option is silently inert with positional
    * sliding parsing, which can quietly run a job with default settings —
    * surface it loudly (warn, not fail: option values may start with '-'). */
  private def warnUnknown(args: Array[String]): Unit = {
    val taking = knownOpts -- Set("-bubble", "-gzip", "-single", "-inter",
      "-paired", "-exact-fastq", "-mercy", "-merge", "-scramble",
      "-split") // flags take no value
    val skipIdx = args.zipWithIndex.collect {
      case (a, i) if taking(a) => i + 1
    }.toSet
    args.zipWithIndex.drop(1).foreach { case (a, i) =>
      if (a.startsWith("-") && !knownOpts(a) && !skipIdx(i))
        System.err.println(s"[graft] WARNING: unrecognized option '$a' (ignored)")
    }
  }

  def main(args: Array[String]): Unit = {
    val usage =
      """usage: graft.Main <counter|run|preprocess|meta|reassemble|mercy|merger|stitch|reduce|extend|curate|stats> [options]
        |  inputs : -fastq <glob> [-fastq2 <glob>] | -fasta <glob> | -contig <fasta> | -kmerc <csv> | -sam <sam>
        |           extend: -aligner '<cmd>' pipes -fastq reads through an external aligner ({ref} = contig fasta)
        |           curate: -docs <parquet> [-testdocs <parquet>] [-embeddings <parquet with doc_id,v>] [-split]
        |                   [-classifier <minScore>] [-dsir <targetLang>]
        |  tuning : -kmer N -klist a,b,c -cover N -maxcov N -error N -mincontig N -maxiter N
        |           -clipf N -clipe N -minlength N -reads N -partition N -partitionredu N -overlap N
        |  flags  : -bubble (keep bubbles) -mercy (rescue gap kmers) -scramble (repeat-aware unitigs)
        |           -gzip -exact-fastq -single -inter -paired -merge (overlap-merge mate pairs)
        |  output : -outfile <dir>""".stripMargin
    require(args.nonEmpty, usage)
    if (args.head == "-h" || args.head == "--help" || args.head == "-help") {
      println(usage); return
    }
    if (args.head == "-version" || args.head == "--version") {
      println("graft 0.3.0 (Spark " + org.apache.spark.SPARK_VERSION + ")"); return
    }
    warnUnknown(args)
    // warnUnknown's contract is "no option is silently inert" — extend it
    // to KNOWN options that don't apply to the selected input
    if (args.contains("-mercy") && opt(args, "-kmerc", "").nonEmpty)
      System.err.println("[graft] WARNING: -mercy needs the read stream; ignored with a pre-counted -kmerc table")
    if (args.contains("-merge") && opt(args, "-fastq2", "").isEmpty)
      System.err.println("[graft] WARNING: -merge requires two-file paired input (-fastq2); ignored")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", opt(args, "-partitionredu", cpus))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    run(spark, args)
    spark.stop()
  }

  /** The subcommand `args.head` with its options, on a session the caller
    * owns (and stops). */
  def run(spark: SparkSession, args: Array[String]): Unit = {
    import spark.implicits._
    val cmd = args.head
    val fastq = opt(args, "-fastq", "/root/reference/example/*.fq.gz")
    val out = opt(args, "-outfile", "/root/repo/target/graft_cli_out")
    val k = opt(args, "-kmer", "31").toInt
    val minCov = opt(args, "-cover", "2").toInt
    val maxCov = opt(args, "-maxcov", "10000000").toLong
    val minContig = opt(args, "-mincontig", "500").toInt
    val maxIter = opt(args, "-maxiter", "150").toInt
    // reference default: minErrorCoverage = 4 * minKmerCoverage — fork
    // losers at or below this coverage (and outweighed 2x by the winner)
    // are sequencing errors; above it they mark genuine repeats and the
    // fork is left contested. -error 0 disables the rule (always resolve).
    val minError = opt(args, "-error", (4 * minCov).toString).toInt
    val clipF = opt(args, "-clipf", "0").toInt
    val clipE = opt(args, "-clipe", "0").toInt
    val minLen = opt(args, "-minlength", k.toString).toInt
    val readLimit = opt(args, "-reads", "0").toLong
    val partitions = opt(args, "-partition", "0").toInt
    val popBubbles = !args.contains("-bubble")
    val gzip = args.contains("-gzip")

    /** Read stream: paired two-file / FASTA / single FASTQ, then the
      * clip → length-guard → limit → repartition ladder. Built lazily so
      * subcommands that take no reads (merger, reduce) never scan it. */
    def reads: Dataset[String] = {
      val fastq2 = opt(args, "-fastq2", "")
      val fasta = opt(args, "-fasta", "")
      val raw =
        if (fastq2.nonEmpty) {
          val pairs = Fastq.readPairedFastq(spark, fastq, fastq2)
          if (args.contains("-merge")) {
            // FLASH-style in-engine mate merge: overlapping pairs become
            // one long pseudo-read; non-overlapping pairs stay two reads
            val m = Fastq.mergePairs(pairs)
            m.select(explode(when(col("merged").isNotNull, array(col("merged")))
              .otherwise(array(col("mate1"), col("mate2")))).as("read")).as[String]
          } else Fastq.interleavePairs(pairs)
        }
        else if (fasta.nonEmpty)
          Fastq.readFasta(spark, fasta).select("seq").as[String]
        else if (opt(args, "-inputformat", "").nonEmpty)
          // splittable-codec seam (reference's .4mc path): lines come
          // through the named FileInputFormat, then the heuristic filter
          Fastq.filterSequenceLines(
            Fastq.readLinesWithFormat(spark, fastq, opt(args, "-inputformat", "")))
        else if (args.contains("-exact-fastq")) Fastq.fastqSequences(spark, fastq)
        else Fastq.fastqSequencesHeuristic(spark, fastq)
      val clipped =
        if (clipF > 0 || clipE > 0)
          raw.map(r => r.substring(clipF.min(r.length), (r.length - clipE).max(clipF.min(r.length))))
        else raw
      val guarded = Fastq.guardReads(clipped, minLen = minLen)
      // limit() takes an Int; a -reads above Int.MaxValue must saturate,
      // not overflow to a negative limit
      val limited =
        if (readLimit > 0)
          guarded.limit(math.min(readLimit, Int.MaxValue.toLong).toInt)
        else guarded
      if (partitions > 0) limited.repartition(partitions) else limited
    }

    /** Counting + assembly, honoring `-kmerc` (a pre-counted `(kmer,count)`
      * table replaces the counting stage; its rows are keyed as the counter
      * keys them, [[Genomics.kmerKey]]). */
    def assembleReads(kk: Int): Dataset[String] = {
      val kmerc = opt(args, "-kmerc", "")
      val raw =
        if (kmerc.isEmpty) Genomics.countCanonical(reads, kk)
        else spark.read.schema("kmer STRING, count BIGINT").csv(kmerc)
          .select(Genomics.kmerKey(col("kmer"), kk).as("kv"), col("count"))
      // -mercy (reference's mercy stage): lift gap-bridging kmers over
      // the coverage gate so low-coverage regions assemble through
      val counts =
        if (args.contains("-mercy") && kmerc.isEmpty)
          Rescue.applyMercy(raw, reads, kk, minCov)
        else raw
      Assembler.assemble(counts.filter(col("count") <= maxCov), kk,
        minCov = minCov, maxIter = maxIter, minContig = minContig,
        popBubbles = popBubbles, minError = minError,
        scramble = args.contains("-scramble"))
    }

    def contigInput(): Dataset[String] = {
      val path = opt(args, "-contig", "")
      require(path.nonEmpty, s"$cmd requires -contig <fasta>")
      Fastq.readFasta(spark, path).select("seq").as[String]
    }

    cmd match {
      case "counter" =>
        val counts = Genomics.decodeCounts(
          Genomics.countCanonical(reads, k)
            .filter(col("count").between(minCov, maxCov)), k)
        Fastq.writeCsv(counts, s"$out/Count_$k", gzip = gzip)
        println(s"[graft] counter: wrote $out/Count_$k")
      case "run" =>
        Fastq.writeFasta(assembleReads(k).toDF("contig"), s"$out/Assembly")
        println(s"[graft] run: wrote $out/Assembly")
      case "preprocess" =>
        // E2 — the reference's first pipeline stage (`Pipelines.java:1299`
        // pipes every read through the external `lighter` binary); graft
        // corrects in-engine against the read set's own k-mer spectrum
        // ([[operators.ErrorCorrect]]) and re-fabricates FASTQ. `-cover`
        // doubles as the solid threshold (reference lighter default: auto).
        // `-rounds N` (default 2, lighter-like): each pass fixes at most
        // one substitution per read, so N passes correct up to N errors —
        // later passes see the previous pass's (partly corrected) spectrum
        // and converge early when a pass changes nothing.
        val rounds = opt(args, "-rounds", "2").toInt
        var cur = reads.toDF("read")
          .withColumn("read_id", monotonically_increasing_id())
          .select("read_id", "read").localCheckpoint()
        var total = 0L
        var r = 0
        var continue = true
        while (r < rounds && continue) {
          val corr = operators.ErrorCorrect
            .correctReads(cur, k, minCov.toLong).localCheckpoint()
          val nChanged = corr.agg(sum(col("changed"))).as[Long].head()
          total += nChanged
          cur = corr.select(col("read_id"), col("corrected").as("read"))
          r += 1
          continue = nChanged > 0
        }
        Fastq.toFastqLines(cur.select(col("read").as("read")))
          .write.mode("overwrite").text(s"$out/Corrected")
        println(s"[graft] preprocess: corrected $total base(s) over $r round(s) -> $out/Corrected")
      case "meta" =>
        val kList = opt(args, "-klist", "23,31,41,53,67,81,95")
          .split(",").map(_.trim.toInt).toSeq
        val contigs = Pipelines.dynamicAssembly(
          spark, reads, kList, s"$out/stages", minCov = minCov,
          minContig = minContig, minError = minError)
        Fastq.writeFasta(contigs.toDF("contig"), s"$out/Assembly")
        println(s"[graft] meta: wrote $out/Assembly (stages under $out/stages)")
      case "reassemble" =>
        val contigs = Pipelines.reassemble(spark, contigInput(), reads, k,
          minCov = minCov, minContig = minContig, minError = minError)
        Fastq.writeFasta(contigs.toDF("contig"), s"$out/Assembly")
        println(s"[graft] reassemble: wrote $out/Assembly")
      case "mercy" =>
        val rescued = Rescue.mercyKmers(reads, k, solidCov = minCov)
        Fastq.writeCsv(rescued, s"$out/Mercy_$k", gzip = gzip)
        println(s"[graft] mercy: wrote $out/Mercy_$k")
      case "merger" =>
        val overlap = opt(args, "-overlap", (k - 1).toString).toInt
        val merged = Rescue.overlapMergeContigs(contigInput(), overlap)
        Fastq.writeFasta(merged.toDF("contig"), s"$out/Assembly")
        println(s"[graft] merger: wrote $out/Assembly")
      case "stitch" =>
        val stitched = Patching.stitchReads(reads, k, strictCov = minCov)
        Fastq.writeFasta(stitched, s"$out/Assembly", seqCol = "contig")
        println(s"[graft] stitch: wrote $out/Assembly")
      case "extend" =>
        // E3 end-to-end: SAM-driven contig-end extension. Two input modes:
        //  -sam <file>      a pre-computed SAM from any aligner;
        //  -aligner <cmd>   run the aligner in-pipeline ({ref} in the
        //                   command resolves to the contig FASTA, which is
        //                   built driver-side and shipped to executors —
        //                   graft.sources.AlignerPipe, the reference's
        //                   index-build + --files + pipe orchestration).
        // The consensus operator itself needs no external binary.
        val samPath = opt(args, "-sam", "")
        val alignerCmd = opt(args, "-aligner", "")
        require(samPath.nonEmpty || alignerCmd.nonEmpty,
          "extend requires -sam <sam file/dir> or -aligner '<cmd with {ref}>'")
        val contigs = Fastq.readFasta(spark, opt(args, "-contig", "")
          .ensuring(_.nonEmpty, "extend requires -contig <fasta>"))
        val sam =
          if (samPath.nonEmpty)
            spark.read.text(samPath).as[String]
              .filter(l => l.nonEmpty && !l.startsWith("@"))
              .map { l => val f = l.split("\t"); (f(2), f(3).toInt, f(5), f(9)) }
              .toDF("contig", "pos", "cigar", "seq")
              .filter(col("contig") =!= "*" && col("cigar") =!= "*")
          else
            graft.sources.AlignerPipe.alignReads(contigs, reads,
              alignerCmd.split("\\s+").toSeq)
        val extended = operators.SamConsensus.extendContigs(contigs, sam,
          minDepth = minCov)
        Fastq.writeFasta(extended.select(col("extended").as("contig")), s"$out/Assembly")
        println(s"[graft] extend: wrote $out/Assembly")
      case "reduce" =>
        val p1 = opt(args, "-kmerc1", "")
        val p2 = opt(args, "-kmerc2", "")
        require(p1.nonEmpty && p2.nonEmpty, "reduce requires -kmerc1 and -kmerc2")
        def load(p: String) = spark.read.schema("kmer STRING, count BIGINT").csv(p)
        val (shortT, longT) = (load(p1), load(p2))
        // k sizes live in the tables themselves (fixed-width k-mer strings)
        def kOf(df: org.apache.spark.sql.DataFrame, p: String): Int = {
          val h = df.select(length(col("kmer"))).limit(1).as[Int].collect()
          require(h.nonEmpty, s"reduce: empty k-mer table at $p")
          h.head
        }
        val k1 = kOf(shortT, p1)
        val k2 = kOf(longT, p2)
        val reduced = Dynamic.reduceCounts(shortT, longT, k1, k2)
        Fastq.writeCsv(reduced, s"$out/Count_${k1}_reduced", gzip = gzip)
        println(s"[graft] reduce: wrote $out/Count_${k1}_reduced (k1=$k1 k2=$k2)")
      case "stats" =>
        // corpus report over any (doc_id, text[, source]) parquet: exact
        // counts where cheap, the HLL sketch where a 100 TB corpus would
        // use one (the estimate is printed next to the exact count so the
        // sketch's accuracy is visible)
        val docsPath = opt(args, "-docs", "")
        require(docsPath.nonEmpty, "stats requires -docs <parquet with doc_id,text>")
        val doc = spark.read.parquet(docsPath)
        // four separate actions consume the exploded token stream — pin it
        // (and its distinct) once instead of re-reading + re-shuffling the
        // parquet per action
        val tok = doc.select(explode(split(col("text"), " ")).as("tok"))
          .localCheckpoint()
        val dtok = tok.distinct().localCheckpoint()
        val nDocs = doc.count()
        val nTok = tok.count()
        val nDistinct = dtok.count()
        val regs = dtok
          .select(substring(md5(col("tok").cast("binary")), 1, 2).as("bucket"),
            (operators.Sketches.leadingZeroBits(
              substring(md5(col("tok").cast("binary")), 3, 8)) + 1).as("rho"))
          .groupBy("bucket").agg(max(col("rho")).cast("long").as("r"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        val est = operators.Sketches.hllEstimate(regs)
        // the KMV theta sketch next to HLL: same job (distinct estimate)
        // but mergeable under INTERSECTION too (x10's set algebra)
        val kmvRow = operators.Sketches.kmvSketch(
            dtok.select(lit(0).as("side"),
              md5(col("tok").cast("binary")).as("h")), 256)
          .agg(count(lit(1)).as("n"), max(col("h")).as("theta")).first()
        val kmvEst =
          if (kmvRow.isNullAt(1)) 0.0
          else operators.Sketches.kmvSketchEstimate(kmvRow.getLong(0), kmvRow.getString(1))
        val top = tok.groupBy("tok").count().orderBy(col("count").desc, col("tok"))
          .limit(5).collect().map(r => s"${r.getString(0)}:${r.getLong(1)}").mkString(", ")
        println(f"[graft] stats: docs=$nDocs tokens=$nTok distinct=$nDistinct " +
          f"hll_estimate=$est%.1f kmv_estimate=$kmvEst%.1f top5=[$top]")

      case "curate" =>
        // training-corpus curation over a parquet documents table:
        // exact dedup -> near-dup clusters -> quality -> decontamination
        // [-> semantic dedup when -embeddings <parquet with doc_id,v>]
        val docsPath = opt(args, "-docs", "")
        require(docsPath.nonEmpty, "curate requires -docs <parquet with doc_id,text>")
        val docs = spark.read.parquet(docsPath)
        val testPath = opt(args, "-testdocs", "")
        val (corpus, test) =
          if (testPath.nonEmpty) (docs, spark.read.parquet(testPath))
          else (docs.filter(col("doc_id") % 100 =!= 0),
            docs.filter(col("doc_id") % 100 === 0))
        val embPath = opt(args, "-embeddings", "")
        val emb = if (embPath.nonEmpty) Some(spark.read.parquet(embPath)) else None
        // -classifier <minScore>: enable the hashed-linear quality-model
        // gate (cls_keep = score > minScore)
        val clsMin = opt(args, "-classifier", "")
        // -dsir <lang>: enable the DSIR domain-matching gate (dsir_keep =
        // importance weight vs the <lang> target distribution > 0); the
        // docs parquet must carry a `lang` column
        val dsirLang = opt(args, "-dsir", "")
        // -split: leakage-free train/val/test assignment keyed by the
        // near-dup cluster canon (whole clusters move atomically)
        val wantSplit = args.contains("-split")
        val flags = operators.Curation.curate(corpus, test, emb,
          classifierMin = if (clsMin.nonEmpty) Some(clsMin.toLong) else None,
          dsirTargetLang = if (dsirLang.nonEmpty) Some(dsirLang) else None,
          clusterSplit = wantSplit).cache()
        flags.write.mode("overwrite").parquet(s"$out/curation_flags")
        corpus.join(flags.filter(col("keep") === 1)
            .select("doc_id", "split"), "doc_id")
          .write.mode("overwrite").parquet(s"$out/curated")
        val stats = flags.agg(count(lit(1)).as("docs"),
          sum(col("exact_keep")).as("exact"), sum(col("nd_keep")).as("neardup"),
          sum(col("quality_ok")).as("quality"), sum(col("clean")).as("clean"),
          sum(col("sem_keep")).as("sem"), sum(col("cls_keep")).as("cls"),
          sum(col("dsir_keep")).as("dsir"),
          sum(col("keep")).as("kept")).collect()(0)
        println(s"[graft] curate: ${stats.getLong(8)}/${stats.getLong(0)} docs kept " +
          s"(exact ${stats.getLong(1)}, neardup ${stats.getLong(2)}, " +
          s"quality ${stats.getLong(3)}, clean ${stats.getLong(4)}, " +
          s"semantic ${stats.getLong(5)}, classifier ${stats.getLong(6)}, " +
          s"dsir ${stats.getLong(7)}) -> $out/curated")
      case "dq" =>
        // data-quality audit over a testdata-layout dir: the declarative
        // constraint suite, the FK orphan audit, and event-time continuity
        // in one report parquet + a console summary. The pipeline gate a
        // lake runs before a table is trusted.
        val sfDir = opt(args, "-sf", "")
        require(sfDir.nonEmpty, "dq requires -sf <testdata dir>")
        val cons = operators.DataQuality.lineitemConstraints(
          Tables.lineitem(spark, sfDir))
        val refs = operators.DataQuality.referentialAudit(
          Tables.lineitem(spark, sfDir), Tables.orders(spark, sfDir),
          Tables.customer(spark, sfDir))
        val cont = operators.DataQuality.continuityAudit(
          Tables.events(spark, sfDir))
        val kanon = operators.DataQuality.kAnonymityRisks(
          Tables.customer(spark, sfDir))
        cons.write.mode("overwrite").parquet(s"$out/dq_constraints")
        refs.write.mode("overwrite").parquet(s"$out/dq_referential")
        cont.write.mode("overwrite").parquet(s"$out/dq_continuity")
        kanon.write.mode("overwrite").parquet(s"$out/dq_k_anonymity")
        val failed = cons.filter(col("pass") === 0)
          .select("check_name").collect().map(_.getString(0))
        val orphanTotal = refs.agg(sum(col("orphan_rows"))).collect()(0).getLong(0)
        val c = cont.collect()(0)
        val risky = kanon.count()
        println(s"[graft] dq: constraints ${if (failed.isEmpty) "ALL PASS"
          else s"FAILED: ${failed.mkString(", ")}"}; " +
          s"referential orphan rows=$orphanTotal; " +
          s"days=${c.getLong(0)} missing=${c.getLong(3)} max_gap=${c.getLong(4)}; " +
          s"k-anonymity risk groups=$risky" +
          s" -> $out/dq_*")
      case other =>
        sys.error(s"unknown subcommand '$other' " +
          "(counter|run|preprocess|meta|reassemble|mercy|merger|stitch|reduce|extend|curate|stats|dq)")
    }
  }
}
