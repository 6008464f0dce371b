package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import org.apache.spark.sql.functions._
import Dna._

class ErrorCorrectSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Error-free tiling reads (forward strand). */
  private def cleanReads(genome: String, len: Int, step: Int): Seq[String] =
    ((0 to genome.length - len by step) :+ (genome.length - len)).distinct
      .map(i => genome.substring(i, i + len))

  private def flip(base: Char): Char = base match {
    case 'A' => 'C'; case 'C' => 'G'; case 'G' => 'T'; case 'T' => 'A'
  }

  private def correct(rds: Seq[String], k: Int, minSolid: Long): Map[Long, (String, Int)] = {
    import spark.implicits._
    val df = rds.zipWithIndex.map { case (r, i) => (i.toLong, r) }.toDF("read_id", "read")
    ErrorCorrect.correctReads(df, k, minSolid)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2)))).toMap
  }

  test("a lone substitution error is restored; clean reads stay untouched") {
    val genome = randGenome(300, seed = 41)
    val clean = cleanReads(genome, 80, 7)
    // corrupt one read in its middle (position 40, 0-based)
    val victim = clean.size / 2
    val corrupted = clean.updated(victim,
      clean(victim).updated(40, flip(clean(victim)(40))))
    val out = correct(corrupted, 21, 2L)
    assert(out.size == corrupted.size)
    out.foreach { case (id, (corr, changed)) =>
      assert(corr == clean(id.toInt), s"read $id not restored to truth")
      assert(changed == (if (id.toInt == victim) 1 else 0))
    }
  }

  test("errors in several reads (and near a read end) are all restored") {
    val genome = randGenome(400, seed = 43)
    val clean = cleanReads(genome, 90, 6)
    // hit an interior read mid-base, another at position 5 from its start,
    // and a third near its end — all genome-interior, so neighbors
    // re-sample every covering k-mer
    val hits = Seq((4, 45), (9, 5), (14, 84))
    val corrupted = hits.foldLeft(clean) { case (acc, (i, p)) =>
      acc.updated(i, acc(i).updated(p, flip(acc(i)(p))))
    }
    val out = correct(corrupted, 21, 2L)
    out.foreach { case (id, (corr, _)) =>
      assert(corr == clean(id.toInt), s"read $id not restored")
    }
    assert(hits.forall { case (i, _) => out(i.toLong)._2 == 1 })
  }

  test("an unrecoverable error (no solid support) is left alone, not guessed") {
    // single read: nothing re-samples its k-mers, so nothing is solid and
    // the corrector must not invent a change
    val read = randGenome(60, seed = 47)
    val out = correct(Seq(read), 21, 2L)
    assert(out(0L) == ((read, 0)))
  }

  test("two errors in one read need two passes (the preprocess -rounds loop)") {
    val genome = randGenome(300, seed = 59)
    val clean = cleanReads(genome, 80, 7)
    val victim = clean.size / 2
    // two substitutions 40 bases apart: no 21-mer covers both, so each
    // pass sees one lone weak base per covering window and fixes the
    // better-supported one; the second pass fixes the other
    val corrupted = clean.updated(victim,
      clean(victim).updated(20, flip(clean(victim)(20)))
        .updated(60, flip(clean(victim)(60))))
    val after1 = correct(corrupted, 21, 2L)
    val once = corrupted.indices.map(i => after1(i.toLong)._1)
    assert(once(victim) != clean(victim), "one pass cannot fix both errors")
    val after2 = correct(once, 21, 2L)
    after2.foreach { case (id, (corr, _)) =>
      assert(corr == clean(id.toInt), s"read $id not restored after 2 passes")
    }
  }

  test("pruned engine == naive unpruned model on random read sets (3 seeds)") {
    // in-memory reference implementation of the UNPRUNED computation (what
    // the DuckDB oracle runs): every position, every base, full candidate
    // scoring — the pruning in correctReads must be invisible
    def naive(rds: Seq[String], k: Int, minSolid: Int): Map[Long, (String, Int)] = {
      val counts = rds.flatMap(r =>
        (0 to r.length - k).map(i => canonStr(r.substring(i, i + k))))
        .groupBy(identity).map { case (km, xs) => km -> xs.size }
      val solid = counts.filter(_._2 >= minSolid).keySet
      rds.zipWithIndex.map { case (r, id) =>
        val L = r.length
        def coveringScore(s: String, p: Int): Int =
          (math.max(1, p - k + 1) to math.min(p, L - k + 1))
            .count(i => solid(canonStr(s.substring(i - 1, i - 1 + k))))
        val cands = for {
          p <- 1 to L
          b <- "ACGT" if b != r(p - 1)
        } yield {
          val cand = r.substring(0, p - 1) + b + r.substring(p)
          val delta =
            if (L < k) 0
            else coveringScore(cand, p) - coveringScore(r, p)
          (delta, p, b, cand)
        }
        val best = cands.minBy { case (d, p, b, _) => (-d, p, b) }
        id.toLong -> (if (best._1 > 0) (best._4, 1) else (r, 0))
      }.toMap
    }
    for (seed <- Seq(97L, 101L, 103L)) {
      val rnd = new scala.util.Random(seed)
      val genome = randGenome(200, seed)
      val clean = cleanReads(genome, 60, 6)
      // corrupt ~1/4 of reads at a random position each
      val rds = clean.map(r =>
        if (rnd.nextInt(4) == 0) {
          val p = rnd.nextInt(r.length)
          r.updated(p, flip(r(p)))
        } else r)
      val expected = naive(rds, 21, 2)
      val got = correct(rds, 21, 2L)
      assert(got == expected, s"seed $seed diverges from the unpruned model")
    }
  }

  test("correction recovers the clean assembly from noisy reads") {
    val genome = randGenome(500, seed = 53)
    val clean = cleanReads(genome, 80, 5)
    val corrupted = Seq(6, 20, 40).foldLeft(clean) { case (acc, i) =>
      acc.updated(i, acc(i).updated(40, flip(acc(i)(40))))
    }
    import spark.implicits._
    // minCov=1: after correction no error k-mer should remain, so even the
    // strictest assembly (keep everything) must reconstruct the genome —
    // a missed correction would surface as forks/extra contigs here
    def assembleOf(rds: Seq[String]): Seq[String] =
      Assembler.assemble(Genomics.countCanonical(rds.toDS(), 31), 31,
        minCov = 1, maxIter = 40).collect().toSeq
    val df = corrupted.zipWithIndex.map { case (r, i) => (i.toLong, r) }
      .toDF("read_id", "read")
    val fixed = ErrorCorrect.correctReads(df, 21, 2L)
      .select("corrected").as[String].collect().toSeq
    assert(assembleOf(fixed) == Seq(canonStr(genome)))
  }
}
