package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import Dna._

/** `-scramble` (repeat-aware unitig) assembly: at genuine repeat junctions
  * the default mode deletes the contested node group and over-fragments;
  * scramble mode keeps every arm, stops contraction AT the junction, and
  * emits the classic unitig set where adjacent unitigs overlap by k-1. */
class ScrambleSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def kmersOf(s: String, k: Int): Set[String] =
    (0 to s.length - k).map(i => canonStr(s.substring(i, i + k))).toSet

  private def assembleFrom(rds: Seq[String], k: Int, scramble: Boolean,
                           minError: Int): Seq[String] = {
    import spark.implicits._
    val counts = Genomics.countCanonical(rds.toDS(), k)
    Assembler.assemble(counts, k, minCov = 1, maxIter = 60,
      minError = minError, scramble = scramble).collect().toSeq
  }

  /** Flanks with pinned boundary bases: the maximal repeat between the two
    * copies extends by any chance-shared flank suffix/prefix (the in-fork
    * sits where contexts first DIVERGE), so A.last != B.last and
    * B.head != C.head pin the junctions exactly at the repeat ends. */
  private def flanks(): (String, String, String) = {
    val a = randGenome(119, seed = 61) + "A"
    val b = "G" + randGenome(118, seed = 67) + "C"
    val c = "T" + randGenome(119, seed = 71)
    (a, b, c)
  }

  /** A 2-copy repeat of `repLen` bases read at `readLen`: scramble emits
    * the maximal non-branching paths, unitig convention — each incident
    * unitig carries the junction's k-1 bases. */
  private def fourUnitigs(k: Int, repLen: Int, readLen: Int): Unit = {
    val (a, b, c) = flanks()
    val rep = randGenome(repLen, seed = 73)
    val genome = a + rep + b + rep + c
    val contigs = assembleFrom(reads(genome, readLen, 5), k, scramble = true, minError = 2)
    val expected = Set(
      canonStr(a + rep.take(k - 1)),                       // left flank into the repeat
      canonStr(rep),                                       // the repeat itself
      canonStr(rep.takeRight(k - 1) + b + rep.take(k - 1)),// between the two copies
      canonStr(rep.takeRight(k - 1) + c))                  // right flank out of it
    assert(contigs.toSet == expected)
    // zero k-mer loss: the unitigs jointly cover every genomic k-mer
    assert(contigs.flatMap(kmersOf(_, k)).toSet == kmersOf(genome, k))
    // and each unitig is a real genome substring (no chimeric joins)
    contigs.foreach(u =>
      assert(genome.contains(u) || genome.contains(rcStr(u)), s"chimeric unitig: $u"))
  }

  test("2-copy repeat: scramble emits the exact 4-unitig set with k-1 overlaps") {
    fourUnitigs(31, repLen = 60, readLen = 80)
  }

  test("default mode over-fragments the same genome (junction k-mers lost)") {
    val k = 31
    val (a, b, c) = flanks()
    val rep = randGenome(60, seed = 73)
    val genome = a + rep + b + rep + c
    val contigs = assembleFrom(reads(genome, 80, 5), k, scramble = false, minError = 2)
    val covered = contigs.flatMap(kmersOf(_, k)).toSet
    assert(covered != kmersOf(genome, k),
      "default contested-fork drop unexpectedly kept every junction k-mer")
  }

  test("repeat-free genome: scramble and default agree on the single contig") {
    val genome = randGenome(500, seed = 79)
    val rds = reads(genome, 80, 7)
    val s = assembleFrom(rds, 31, scramble = true, minError = 2)
    val d = assembleFrom(rds, 31, scramble = false, minError = 2)
    assert(s == Seq(canonStr(genome)))
    assert(d == s)
  }

  test("wide-k (k=40) 2-copy repeat: scramble emits the 4-unitig overlap set") {
    fourUnitigs(40, repLen = 70, readLen = 90)
  }

  test("wide-k repeat-free genome: scramble and default agree") {
    val genome = randGenome(500, seed = 89)
    val rds = reads(genome, 90, 7)
    val s = assembleFrom(rds, 40, scramble = true, minError = 2)
    val d = assembleFrom(rds, 40, scramble = false, minError = 2)
    assert(s == Seq(canonStr(genome)))
    assert(d == s)
  }

  test("scramble still drops low-coverage error arms (bubble popping intact)") {
    val genome = randGenome(400, seed = 83)
    val clean = reads(genome, 80, 5)
    // one read with a mid-base error: its k-mers have coverage 1; the true
    // arm has ~16x. minError=2 classifies the light arm as an error, so
    // the fork must RESOLVE (merge through), not barrier-split.
    val noisy = clean :+ {
      val r = genome.substring(100, 180)
      r.updated(40, r(40) match { case 'A' => 'C'; case 'C' => 'G'; case 'G' => 'T'; case 'T' => 'A' })
    }
    val contigs = assembleFrom(noisy, 31, scramble = true, minError = 2)
    // the true path must merge straight through the error fork, unbroken;
    // the error arm's INTERIOR cov-1 k-mers (untouched by any fork filter
    // at minCov=1 — same in default mode) may surface as one short orphan
    // stub, but never as a barrier split of the genome
    assert(contigs.count(_.length >= 80) == 1)
    assert(contigs.contains(canonStr(genome)))
    assert(contigs.filterNot(_ == canonStr(genome)).forall(_.length < 80))
  }
}
