package graft.sources

import org.apache.spark.SparkFiles
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** E3 orchestration — the reference's external-aligner pipeline
  * (`ReflexivDSDynamicKmerMapping.java:147-230` builds the minimap2 index
  * on the driver and ships it with `--files`; `DSJavaPipeMinimap2`
  * `:1157-1267` pipes each partition's FASTQ through the binary), with the
  * aligner itself staying external/pluggable:
  *
  *  1. the contig set (output-sized — the same table the reference
  *     collects for its driver-side index build) is materialized once as a
  *     local FASTA and shipped to every executor via `addFile`;
  *  2. reads are re-fabricated as FASTQ ([[Fastq.toFastqLines]]) and piped
  *     partition-wise through the aligner command ([[PipeOps]]) — `{ref}`
  *     in the command resolves to the shipped FASTA ON THE EXECUTOR
  *     (`SparkFiles.get`), which is why the command is assembled lazily;
  *  3. stdout SAM lines are parsed to the `(contig, pos, cigar, seq)`
  *     frame [[graft.operators.SamConsensus.extendContigs]] consumes.
  */
object AlignerPipe {

  /** Align `reads` against `contigs` = `(id, seq)` with an external
    * aligner command (whitespace-split; `{ref}` -> shipped contig FASTA).
    * Returns parsed mapped SAM rows `(contig, pos, cigar, seq)`. */
  /** Driver-side guard on the collected reference size (same pattern as
    * Assembler's `MaxLocalBases` byte gate): the contig set is output-sized
    * and ≪ reads, but it is the one unbounded collect in the engine — fail
    * fast with a clear message instead of OOMing the driver on a 100× run.
    * Tunable via env `GRAFT_ALIGNER_MAX_REF_BASES`. */
  private def maxRefBases: Long =
    sys.env.get("GRAFT_ALIGNER_MAX_REF_BASES").map(_.toLong).getOrElse(2000000000L)

  def alignReads(contigs: DataFrame, reads: Dataset[String],
                 cmdTemplate: Seq[String]): DataFrame = {
    val spark = contigs.sparkSession
    import spark.implicits._
    val refBases = contigs.agg(coalesce(sum(length(col("seq"))), lit(0L)))
      .as[Long].head()
    require(refBases <= maxRefBases,
      s"aligner reference is $refBases bases, over the driver-collect guard " +
        s"of $maxRefBases; split the contig set or raise GRAFT_ALIGNER_MAX_REF_BASES")
    val name = s"graft_ref_${System.nanoTime}.fa"
    val refFa = java.nio.file.Files.createTempDirectory("graft_ref").resolve(name)
    val sb = new StringBuilder
    contigs.select(col("id").cast("string"), col("seq").cast("string"))
      .as[(String, String)].collect()
      .foreach { case (id, sq) =>
        sb.append('>').append(id).append('\n').append(sq).append('\n')
      }
    java.nio.file.Files.write(refFa, sb.toString.getBytes("UTF-8"))
    spark.sparkContext.addFile(refFa.toString)
    val fq = Fastq.toFastqLines(reads.toDF("read")).as[String]
    val sam = PipeOps.pipePartitionsLazy(fq,
      () => cmdTemplate.map(_.replace("{ref}", SparkFiles.get(name))))
    // FLAG-aware row filter (SAM spec §1.4): drop unmapped (0x4) even when
    // the aligner emitted a placed-unmapped record with a contig name,
    // and drop secondary (0x100) / supplementary (0x800) alignments —
    // each read must vote AT MOST ONCE in the consensus, or a multi-hit
    // read double-counts its overhang evidence. Reverse-strand rows
    // (0x10) flow through unchanged: SAM stores SEQ/CIGAR already in
    // reference orientation, so the consensus is strand-invariant by
    // construction (pinned by AlignerPipeSpec's adversarial aligner).
    // Optional tags (columns >= 12) are ignored by the positional parse.
    sam.filter(l => l.nonEmpty && !l.startsWith("@"))
      .map { l =>
        val f = l.split("\t")
        (f(1).toInt, f(2), f(3).toInt, f(5), f(9))
      }
      .filter(r => (r._1 & 0x904) == 0)
      .map(r => (r._2, r._3, r._4, r._5))
      .toDF("contig", "pos", "cigar", "seq")
      .filter(col("contig") =!= "*" && col("cigar") =!= "*")
  }
}
