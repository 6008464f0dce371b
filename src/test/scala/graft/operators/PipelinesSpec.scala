package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.sources.StageRunner
import java.nio.file.Files
import Dna._

class PipelinesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("staged dynamic-k assembly reconstructs the genome and resumes") {
    import spark.implicits._
    val genome = randGenome(800, seed = 41)
    val reads = ((0 to 740 by 7) :+ 740).distinct.map { i =>
      val w = genome.substring(i, i + 60)
      if (i % 2 == 0) w else rcStr(w)
    }
    val work = Files.createTempDirectory("graft_pipeline").toString
    val kList = Seq(15, 21, 31)

    val first = Pipelines.dynamicAssembly(spark, reads.toDS(), kList, work)
      .collect().toSet
    assert(first.contains(canonStr(genome)),
      s"final contigs (${first.map(_.length)}) should contain the genome")

    // every stage checkpointed: one multi-k count scan, then a reduced
    // interchange + contigs per k (the reference's `reduce` protocol)
    val runner = new StageRunner(spark, work)
    assert(runner.isComplete("count_multik"))
    kList.foreach { k =>
      assert(runner.isComplete(s"count_k${k}_reduced") &&
        runner.isComplete(s"contigs_k$k"))
    }
    // the k=21 round consumed the materialized reduced table, and the
    // reduced table is read-counts + only novel contig-bridged k-mers
    // (never larger than a full recount of reads ∪ contigs)
    val reduced21 = spark.read.parquet(s"$work/count_k21_reduced")
    val full21 = Genomics.countCanonical(
      reads.toDS().unionAll(spark.read.parquet(s"$work/contigs_k15").as[String]), 21)
    assert(reduced21.count() <= full21.count())

    // resumed re-run: identical result, stages untouched
    val second = Pipelines.dynamicAssembly(spark, reads.toDS(), kList, work)
      .collect().toSet
    assert(second == first)

    // delete the final stage: only it recomputes, same fixpoint
    runner.clean("contigs_k31")
    val third = Pipelines.dynamicAssembly(spark, reads.toDS(), kList, work)
      .collect().toSet
    assert(third == first)
  }

  test("kill-resume: dirty stage dirs (partial output, no _SUCCESS) are " +
    "recomputed and the resumed pipeline is bit-identical to a clean run") {
    import spark.implicits._
    val genome = randGenome(800, seed = 99)
    val reads = ((0 to 740 by 7) :+ 740).distinct.map(i => genome.substring(i, i + 60))
    val kList = Seq(15, 21)
    val cleanDir = Files.createTempDirectory("graft_clean").toString
    val clean = Pipelines.dynamicAssembly(spark, reads.toDS(), kList, cleanDir)
      .collect().toSet

    // a run killed mid-FIRST-stage: the stage dir holds plausible-but-WRONG
    // partial parquet and no _SUCCESS. If resume ever trusted the dirty dir
    // the poison row would survive into the counts and change the result.
    val work = Files.createTempDirectory("graft_dirty").toString
    Seq(("AAAAAAAAAAAAAAA", 999L)).toDF("kmer", "count")
      .write.parquet(s"$work/count_multik")
    Files.delete(java.nio.file.Paths.get(s"$work/count_multik/_SUCCESS"))
    val resumed = Pipelines.dynamicAssembly(spark, reads.toDS(), kList, work)
      .collect().toSet
    assert(resumed == clean)
    assert(new StageRunner(spark, work).isComplete("count_multik"))

    // a run killed mid-LATER-stage: corrupt contigs_k21 with garbage bytes
    // a dying writer could leave behind (unreadable as parquet — if resume
    // tried to read instead of recompute, this would throw, not pass)
    val stageDir = java.nio.file.Paths.get(s"$work/contigs_k21")
    Files.delete(stageDir.resolve("_SUCCESS"))
    val part = Files.list(stageDir)
      .filter(p => p.getFileName.toString.startsWith("part-")).findFirst().get()
    Files.write(part, Array.fill[Byte](128)(0x7f))
    val resumed2 = Pipelines.dynamicAssembly(spark, reads.toDS(), kList, work)
      .collect().toSet
    assert(resumed2 == clean)
    assert(new StageRunner(spark, work).isComplete("contigs_k21"))
  }

  test("assembler resumes mid-contraction from durable round checkpoints") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, udf}
    val genome = randGenome(600, seed = 7)
    val reads = ((0 to 540 by 6) :+ 540).distinct.map(i => genome.substring(i, i + 60))
    // both key regimes: k=21 packed, k=41 2-word keys; the word run is
    // kept off the endgame walk so that it crashes between rounds
    for ((k, crashGate) <- Seq((21, Long.MaxValue), (41, 0L))) {
      val counts = Genomics.countCanonical(reads.toDS(), k)
      val full = Assembler.assemble(counts, k, maxIter = 120).collect().toSet
      assert(full.contains(canonStr(genome)), s"k=$k")

      // "crash" after two contraction rounds: durable snapshots exist, the
      // contraction is incomplete
      val ckpt = Files.createTempDirectory("graft_ackpt").toString
      Assembler.assemble(counts, k, maxIter = 2, probeEvery = 1,
        ckptDir = Some(ckpt), localThreshold = crashGate).collect()
      assert(new StageRunner(spark, ckpt).completed("frags_i").nonEmpty, s"k=$k")

      // resume with a POISONED counts table: if the restart ever re-derived
      // the seed fragments (instead of reading the durable round), this
      // blows up — proving the resume recomputes nothing upstream
      val boom = udf((x: Long) => { sys.error("seed recomputed on resume"); x })
      val poisoned = counts.withColumn("count", boom(col("count")))
      val resumed = Assembler.assemble(poisoned, k, maxIter = 120,
        ckptDir = Some(ckpt)).collect().toSet
      assert(resumed == full, s"k=$k")
    }
  }
}
