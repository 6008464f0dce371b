package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.{SourceScan, TestSpark}
import graft.core.KmerIter
import Dna._

/** The two key regimes of [[Assembler]] are one algorithm: at a k both can
  * hold (k <= 31), the same reads give the same contigs whether the counts
  * are keyed by packed Longs (`bigint`) or by one-word arrays
  * (`array<bigint>`, the `WordKeys` regime `assemble` picks from the key
  * type) — fork winners, tie-breaks, scramble barriers, cycles and the
  * endgame walk included. Above k = 31 (w = 2 and 3 word keys), the
  * single-task kernel gives what the distributed path does. */
class KeyRegimeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Four unique stretches joined by three copies of one repeat. */
  private def repeatGenome(seed: Long, unique: Int, repeat: Int): String =
    (1 to 4).map(i => randGenome(unique, seed * 10 + i)).mkString(randGenome(repeat, seed * 10))

  /** Asserts both regimes give the same contigs (k <= 31; word keys only
    * above), with the default gates and with the fully distributed path;
    * returns the contigs. */
  private def sameInBoth(rds: Seq[String], k: Int, ctx: String, minCov: Int = 1,
                         popBubbles: Boolean = true, minError: Int = 0,
                         scramble: Boolean = false): Set[String] = {
    import spark.implicits._
    lazy val packed = Genomics.countCanonical(rds.toDS(), k).localCheckpoint()
    val words = rds.toDS().flatMap(r => KmerIter.canonicalWords(r, k))
      .toDF("kv").groupBy("kv").count().localCheckpoint()
    val out = Seq(Long.MaxValue, 0L).map { gate =>
      val b = Assembler.assemble(words, k, minCov = minCov, maxIter = 150,
        popBubbles = popBubbles, localThreshold = gate, minError = minError,
        scramble = scramble).collect().toSet
      if (k <= 31)
        assert(b == Assembler.assemble(packed, k, minCov = minCov, maxIter = 150,
          popBubbles = popBubbles, localThreshold = gate, minError = minError,
          scramble = scramble).collect().toSet, s"$ctx k=$k localThreshold=$gate")
      b
    }
    assert(out.distinct.size == 1, s"$ctx k=$k: gates disagree")
    assert(out.head.size > 1, s"$ctx k=$k: no fork was exercised")
    out.head
  }

  test("one k-mer key: no main source names a block-form key or its converters") {
    val banned = Seq("\"kb\"", "blocksToWords", "blocksPrefixLong", "canonicalBlocks")
    val hits = SourceScan.hits("src/main/scala", 40)(line => banned.exists(line.contains))
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  /** k = 41, 63 and 64 straddle the w = 2 -> 3 word boundary. */
  private val wideKs = Seq(41, 63, 64)

  test("default forks: block keys == packed keys at k=21 and k=31") {
    for (k <- Seq(21, 31) ++ wideKs) {
      val g = repeatGenome(3, unique = 400, repeat = if (k <= 31) 50 else 90)
      sameInBoth(reads(g, 80, 3), k, "default")
    }
  }

  test("popBubbles=false: block keys == packed keys at k=21 and k=31") {
    val (p, q) = (randGenome(150, 5), randGenome(150, 6))
    val rds = Seq(randGenome(90, 7), randGenome(90, 8))
      .flatMap(v => reads(p + v + q, 70, 4))
    for (k <- Seq(21, 31) ++ wideKs) sameInBoth(rds, k, "-bubble", popBubbles = false)
  }

  // Main's defaults (minCov 2, minError 8) on a planted repeat with 0.5%
  // substitutions plus recurrent errors that pass minCov
  test("minCov 2 / minError 8 on repeats and read errors: block keys == packed keys") {
    val rnd = new scala.util.Random(11)
    val g = repeatGenome(11, unique = 600, repeat = 120)
    def sub(c: Char) = "ACGT".filter(_ != c)(rnd.nextInt(3))
    val noisy = (0 until g.length / 5).map { _ =>
      val i = rnd.nextInt(g.length - 99)
      g.substring(i, i + 100).map(c => if (rnd.nextInt(200) == 0) sub(c) else c)
    }
    val recurrent = (0 until 8).flatMap { _ =>
      val i = rnd.nextInt(g.length - 99)
      val w = g.substring(i, i + 100)
      Seq.fill(3)(w.updated(50, sub(w(50))))
    }
    val rds = (noisy ++ recurrent).map(w => if (rnd.nextBoolean()) w else rcStr(w))
    for (k <- Seq(21, 31) ++ wideKs) sameInBoth(rds, k, "-error", minCov = 2, minError = 8)
  }

  test("scramble: block keys == packed keys at k=21 and k=31") {
    for (k <- Seq(21, 31) ++ wideKs) {
      val g = repeatGenome(13, unique = 300, repeat = if (k <= 31) 60 else 90)
      sameInBoth(reads(g, 80, 4), k, "-scramble", minError = 2, scramble = true)
    }
  }
}
