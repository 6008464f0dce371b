package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.core.KmerIter

/** The two key regimes of [[Assembler]] are one algorithm: at a k both can
  * hold (k <= 31), the same reads give the same contigs whether the k-mers
  * are packed Longs (`assemble`) or 2-bit blocks (`drive` over
  * `BlockKeys`) — fork winners, tie-breaks, scramble barriers, cycles and
  * the endgame walk included. */
class KeyRegimeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def rcStr(s: String): String =
    s.reverse.map { case 'A' => 'T'; case 'C' => 'G'; case 'G' => 'C'; case 'T' => 'A' }
  private def randGenome(n: Int, seed: Long): String = {
    val r = new scala.util.Random(seed)
    Array.fill(n)("ACGT"(r.nextInt(4))).mkString
  }

  /** Four unique stretches joined by three copies of one repeat. */
  private def repeatGenome(seed: Long, unique: Int, repeat: Int): String =
    (1 to 4).map(i => randGenome(unique, seed * 10 + i)).mkString(randGenome(repeat, seed * 10))

  /** Error-free sliding-window reads, half reverse-complemented. */
  private def windows(g: String, len: Int, step: Int): Seq[String] =
    ((0 to g.length - len by step) :+ (g.length - len)).distinct.map { i =>
      val w = g.substring(i, i + len); if (i % 2 == 0) w else rcStr(w)
    }

  /** Asserts both regimes give the same contigs, with the default gates and
    * with the fully distributed path; returns the contigs. */
  private def sameInBoth(rds: Seq[String], k: Int, ctx: String, minCov: Int = 1,
                         popBubbles: Boolean = true, minError: Int = 0,
                         scramble: Boolean = false): Set[String] = {
    import spark.implicits._
    val packed = Genomics.countCanonical(rds.toDS(), k).localCheckpoint()
    val blocks = rds.toDS().flatMap(r => KmerIter.canonicalBlocks(r, k))
      .toDF("kb").groupBy("kb").count().localCheckpoint()
    val out = Seq(Long.MaxValue, 0L).map { gate =>
      val p = Assembler.assemble(packed, k, minCov = minCov, maxIter = 150,
        popBubbles = popBubbles, localThreshold = gate, minError = minError,
        scramble = scramble).collect().toSet
      val b = Assembler.drive(Assembler.BlockKeys, blocks, k, minCov = minCov,
        maxIter = 150, probeEvery = 3, minContig = 0, ckptDir = None,
        popBubbles = popBubbles, localThreshold = gate, minError = minError,
        scramble = scramble).collect().toSet
      assert(b == p, s"$ctx k=$k localThreshold=$gate")
      p
    }
    assert(out.distinct.size == 1, s"$ctx k=$k: gates disagree")
    assert(out.head.size > 1, s"$ctx k=$k: no fork was exercised")
    out.head
  }

  test("default forks: block keys == packed keys at k=21 and k=31") {
    val g = repeatGenome(3, unique = 400, repeat = 50)
    for (k <- Seq(21, 31)) sameInBoth(windows(g, 80, 3), k, "default")
  }

  test("popBubbles=false: block keys == packed keys at k=21 and k=31") {
    val (p, q) = (randGenome(150, 5), randGenome(150, 6))
    val rds = Seq(randGenome(90, 7), randGenome(90, 8))
      .flatMap(v => windows(p + v + q, 70, 4))
    for (k <- Seq(21, 31)) sameInBoth(rds, k, "-bubble", popBubbles = false)
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
    for (k <- Seq(21, 31)) sameInBoth(rds, k, "-error", minCov = 2, minError = 8)
  }

  test("scramble: block keys == packed keys at k=21 and k=31") {
    val g = repeatGenome(13, unique = 300, repeat = 60)
    for (k <- Seq(21, 31))
      sameInBoth(windows(g, 80, 4), k, "-scramble", minError = 2, scramble = true)
  }
}
