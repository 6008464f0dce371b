package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.StageInfo
import graft.TestSpark
import graft.TestSpark.stagesOf
import graft.core.{Counters, KmerCodec, KmerIter}
import Dna._

class AssemblerSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def assembleFrom(rds: Seq[String], k: Int): Seq[String] = {
    import spark.implicits._
    val counts = Genomics.countCanonical(rds.toDS(), k)
    Assembler.assemble(counts, k, minCov = 1, maxIter = 40).collect().toSeq
  }

  test("walkChains == a brute-force string walk (w = 1 to 3, salted ends)") {
    // random disjoint path/cycle mixtures: fragment the k-mer chains of
    // several genomes (open paths) and circles (cycles) at random split
    // points, salt some fragment ends (a salted end joins nothing), shuffle,
    // and demand the word-key walk emit what a walk over endpoint strings does
    for (k <- Seq(9, 40, 64); seed <- 1 to 10) {
      val r = new scala.util.Random(seed)
      val w = KmerCodec.wordsFor(k)
      val parts = scala.collection.mutable.ArrayBuffer.empty[(String, Boolean, Boolean)]
      def fragment(seq: String): Unit = {
        // cut the sequence into >= 1 overlapping-(k-1) fragments
        val cuts = (1 until (seq.length - k + 1)).filter(_ => r.nextInt(4) == 0)
        val bounds = (0 +: cuts :+ (seq.length - k + 1)).distinct.sorted
        bounds.zip(bounds.tail).foreach { case (a, b) =>
          parts += ((seq.substring(a, b + k - 1), r.nextInt(6) == 0, r.nextInt(6) == 0))
        }
      }
      // open paths: distinct random genomes; cycles: a genome wrapped by
      // its own first k-1 bases
      (0 until 3).foreach(i => fragment(randGenome(k + 60, seed * 100 + i)))
      val g = randGenome(k + 40, seed * 100 + 50)
      fragment(g + g.take(k - 1))
      // (head, tail, seq) with string ends: a (k-1)-mer, or a salted end's
      // own k-mer tagged H/T
      val parted = r.shuffle(parts.toVector)
      val fs = parted.map { case (sub, sh, st) =>
        (if (sh) "H" + sub.take(k) else sub.take(k - 1),
          if (st) "T" + sub.takeRight(k) else sub.takeRight(k - 1), sub)
      }
      def words(head: Boolean) = parted.flatMap { case (sub, sh, st) =>
        val (km, dst) = (wordKey((if (head) sub else sub.takeRight(k)).take(k)), new Array[Long](w))
        Assembler.endKey(km, 0, k, head, if (head) sh else st, dst, 0)
        dst
      }.toArray
      // a (k-1)-mer head collision across random genomes would trip the
      // duplicate-head invariant — not what's under test
      if (fs.map(_._1).distinct.length != fs.length) {
        info(s"k=$k seed=$seed skipped: head collision in the random fixture")
      } else {
        val byHead = fs.zipWithIndex.map { case (f, i) => f._1 -> i }.toMap
        val isTail = fs.map(_._2).toSet
        val visited = new Array[Boolean](fs.length)
        def walk(si: Int): (String, String, String) = {
          var (last, seq) = (si, fs(si)._3)
          visited(si) = true
          var next = byHead.get(fs(si)._2)
          while (next.exists(_ != si)) {
            last = next.get; visited(last) = true
            seq += fs(last)._3.drop(k - 1)
            next = byHead.get(fs(last)._2)
          }
          (fs(si)._1, fs(last)._2, seq)
        }
        val expected = fs.indices.filterNot(i => isTail(fs(i)._1)).map(walk) ++ // open paths
          fs.indices.flatMap(i => if (visited(i)) None else Some(walk(i))) // cycles
        val got = Assembler.walkChains(words(head = true), words(head = false),
          fs.map(f => KmerCodec.encodeBlocks(f._3)).toArray, k)
          .map { case (s, t, seq) => (fs(s)._1, fs(t)._2, KmerCodec.decodeBlocks(seq)) }.toSeq
        assert(got.sorted == expected.sorted, s"k=$k seed=$seed")
        assert(parts.exists(p => p._2 || p._3), s"k=$k seed=$seed: nothing salted")
      }
    }
  }

  test("single genome reconstructs exactly (both-strand reads)") {
    val genome = randGenome(600, seed = 7)
    val contigs = assembleFrom(reads(genome, 80, 9), 31)
    assert(contigs == Seq(canonStr(genome)))
  }

  test("two disjoint genomes give two contigs") {
    val a = randGenome(400, seed = 11)
    val b = randGenome(400, seed = 13)
    val contigs = assembleFrom(reads(a, 80, 9) ++ reads(b, 80, 9), 31)
    assert(contigs.toSet == Set(canonStr(a), canonStr(b)))
  }

  test("contigs are valid De Bruijn paths even with a shared repeat (fork)") {
    val shared = randGenome(60, seed = 17)
    val a = randGenome(200, seed = 19) + shared + randGenome(200, seed = 23)
    val b = randGenome(200, seed = 29) + shared + randGenome(200, seed = 31)
    val k = 31
    val rds = reads(a, 80, 7) ++ reads(b, 80, 7)
    val inputKmers: Set[Long] =
      rds.flatMap(r => KmerIter.canonicalLong(r, k)).toSet
    val contigs = assembleFrom(rds, k)
    // The fork at the shared segment means per-genome reconstruction is not
    // guaranteed, but every contig must still be a walk through input kmers.
    assert(contigs.size >= 2)
    contigs.foreach { c =>
      assert(c.length >= k)
      KmerIter.canonicalLong(c, k).foreach(kv => assert(inputKmers.contains(kv)))
    }
  }

  test("circular genome terminates as a closed cycle contig") {
    import graft.core.KmerIter
    val k = 31
    val core = randGenome(400, seed = 43)
    val circular = core + core.substring(0, k - 1) // wrap-around k-mers
    val rds = reads(circular, 80, 9)
    val contigs = assembleFrom(rds, k)
    // both strands normalize to the same minimal-rotation cycle: a single
    // contig covering all 400 cycle edges, with k-1 wrap bases duplicated
    assert(contigs.size == 1)
    assert(contigs.head.length == core.length + k - 1)
    val expectedCore = ((0 until core.length).map(i => core.drop(i) + core.take(i)) ++
      (0 until core.length).map { i => val r = rcStr(core); r.drop(i) + r.take(i) }).min
    assert(contigs.head == expectedCore + expectedCore.take(k - 1))
    val inputKmers = rds.flatMap(r => KmerIter.canonicalLong(r, k)).toSet
    KmerIter.canonicalLong(contigs.head, k).foreach(kv => assert(inputKmers.contains(kv)))
  }

  /** Expected contig for a De Bruijn cycle with core `core` at k: minimal
    * rotation over both strands, then a cyclic k-1 wrap (repeats the core
    * more than once when the period is shorter than k-1). */
  private def expectedCycle(core: String, k: Int): String = {
    val rc = rcStr(core)
    val m = ((0 until core.length).map(i => core.drop(i) + core.take(i)) ++
      (0 until rc.length).map(i => rc.drop(i) + rc.take(i))).min
    m + (m * ((k - 2) / m.length + 1)).substring(0, k - 1)
  }

  test("tandem repeat with period 4 < k-1 assembles without crashing (r2 bench bug)") {
    // the exact bench-warmup input that crashed round 2: period-4 read, k=21
    val contigs = assembleFrom(Seq("ACGTACGTACGTACGTACGTACGTACGTACGT"), 21)
    assert(contigs == Seq(expectedCycle("ACGT", 21)))
  }

  test("period-3 tandem repeat normalizes deterministically on both strands") {
    val genome = "ACG" * 20
    val contigs = assembleFrom(reads(genome, 40, 5), 21)
    assert(contigs == Seq(expectedCycle("ACG", 21)))
  }

  test("period k-2 cycle (core one base short of the wrap) is wrapped cyclically") {
    val k = 21
    val core = randGenome(k - 2, seed = 53)
    val genome = core * 6
    val contigs = assembleFrom(reads(genome, 50, 7), k)
    assert(contigs == Seq(expectedCycle(core, k)))
  }

  test("wide-k assembler survives short-period cycles too") {
    // period 4, read len 64, k = 40
    assert(assembleFrom(Seq("ACGT" * 16), 40) == Seq(expectedCycle("ACGT", 40)))
  }

  test("wide-k (k=45) assembly reconstructs via the block-key path") {
    val genome = randGenome(500, seed = 47)
    assert(assembleFrom(reads(genome, 100, 9), 45) == Seq(canonStr(genome)))
  }

  test("coverage filter drops error kmers before assembly") {
    val genome = randGenome(300, seed = 37)
    // duplicate true reads 3x, inject one erroneous read once
    val good = reads(genome, 80, 9)
    val errRead =
      genome.substring(10, 90).updated(40, if (genome(50) != 'A') 'A' else 'C')
    val all = good ++ good ++ good ++ Seq(errRead)
    import spark.implicits._
    val counts = Genomics.countCanonical(all.toDS(), 31)
    val contigs = Assembler.assemble(counts, 31, minCov = 2, maxIter = 40).collect().toSeq
    assert(contigs == Seq(canonStr(genome)))
  }

  /** The fork rule by brute force in the string domain, over mirrored
    * `(k-mer, count)` rows (a k-mer may occur twice): per prefix and per
    * suffix group, each over all rows, sorted by `(-count, canonical
    * k-mer)`; a row is kept iff both its groups keep it. Returns the kept
    * rows as `(k-mer, head node is a barrier, tail node is a barrier)`,
    * sorted. */
  private def bruteFork(edges: Seq[(String, Long)], rule: Assembler.ForkRule): Seq[(String, Boolean, Boolean)] = {
    val rows = edges.zipWithIndex
    def side(rs: Seq[((String, Long), Int)], node: String => String): (Set[Int], Set[String]) = {
      val judged = rs.groupBy(r => node(r._1._1)).toSeq.map { case (nd, g) =>
        val sorted = g.sortBy { case ((km, c), _) => (-c, canonStr(km)) }
        val ((_, top), win) = sorted.head
        val surv = sorted.filter { case ((_, c), i) => i == win || !(c <= rule.minError && top >= 2 * c) }
        val kept =
          if (rule.scramble) surv.map(_._2)
          else if (!rule.popBubbles) (if (g.size == 1) Seq(win) else Nil)
          else if (rule.minError <= 0 || surv.size == 1) Seq(win) else Nil
        (kept, if (rule.scramble && surv.size >= 2) Seq(nd) else Nil)
      }
      (judged.flatMap(_._1).toSet, judged.flatMap(_._2).toSet)
    }
    val (byHead, bh) = side(rows, _.dropRight(1))
    val (byTail, bt) = side(rows, _.drop(1))
    val barriers = bh ++ bt
    rows.collect { case ((km, _), i) if byHead(i) && byTail(i) =>
      (km, barriers(km.dropRight(1)), barriers(km.drop(1)))
    }.sorted
  }

  /** Both fork drivers over the canonical `counts` in regime `r` against
    * [[bruteFork]] — the default and scramble policies at each of
    * `minErrors`, and `-bubble` — after both mirrors against a string
    * mirror. Returns the mirrored edges. */
  private def forkDriversAgree[K](r: Assembler.KeyRegime[K], counts: Seq[(K, Long)], k: Int,
                                  minErrors: Seq[Int], ctx: String): Seq[(String, Long)] = {
    val w = KmerCodec.wordsFor(k)
    def str(a: Array[Long], off: Int) = KmerCodec.decodeBlocks(KmerCodec.wordsToBlocks(a, off, k))
    def keyStr(km: K) = { val a = new Array[Long](w); r.put(km, a, 0); str(a, 0) }
    val edges = counts.flatMap { case (kmer, c) =>
      val a = new Array[Long](w)
      r.put(kmer, a, 0)
      Seq(str(a, 0), rcStr(str(a, 0))).distinct.map(_ -> c)
    }.sorted
    val (km, cn) = Assembler.mirrorLocal(r, counts.iterator, k)
    assert(cn.indices.map(e => (str(km, e * w), cn(e))).sorted == edges, s"$ctx single-task mirror")
    val mirrored = Assembler.mirror(r, spark.createDataset(counts)(r.countEnc).toDF(), k).cache()
    assert(mirrored.collect().toSeq.map { case (m, c) => (keyStr(m), c) }.sorted == edges, s"$ctx mirror")
    val rules = minErrors.flatMap(me => Seq(false, true).map(Assembler.ForkRule(popBubbles = true, me, _))) :+
      Assembler.ForkRule(popBubbles = false, 0, scramble = false)
    for (rule <- rules) {
      val want = bruteFork(edges, rule)
      val (kept, barriers) = Assembler.forkLocal(km, cn, k, rule)
      // a (k-1)-mer node key read as a k-mer has a leading A
      val bs = (0 until barriers.length by w).map(o => str(barriers, o).tail).toSet
      assert(kept.toSeq.map(e => str(km, e * w)).map(s => (s, bs(s.dropRight(1)), bs(s.drop(1)))).sorted ==
        want, s"$ctx single task $rule")
      assert(Assembler.forkEdges(r, mirrored, k, rule).collect().toSeq
        .map { case (m, sh, st) => (keyStr(m), sh, st) }.sorted == want, s"$ctx distributed $rule")
    }
    mirrored.unpersist()
    edges
  }

  test("both fork drivers == a brute-force fork rule in test code") {
    // a small k packs the edges onto few (k-1)-mer nodes, so most nodes
    // fork; a short count ladder forces ties, count == minError and winners
    // exactly 2x their loser. Rows are not canonicalized, so a k-mer and
    // its reverse complement can both occur (identical mirrored rows), and
    // the even k has palindromes (mirrored once).
    val ladder = Array(1L, 2L, 3L, 4L, 8L, 16L)
    for (seed <- 1 to 3; k <- Seq(5, 6)) {
      val rnd = new scala.util.Random(seed * 31L + k)
      // even k: plant palindromes, half + reverse complement of the half
      val pal = if (k % 2 == 1) Nil else Seq.fill(3) {
        val h = rnd.nextLong() & ((1L << k) - 1)
        (h << k) | KmerCodec.rcLong(h, k / 2)
      }
      val kmers = (Seq.fill(40 * k)(rnd.nextLong() & ((1L << (2 * k)) - 1)) ++ pal).distinct
      val counts = kmers.map(kv => (kv, ladder(rnd.nextInt(ladder.length))))
      val ctx = s"seed=$seed k=$k"
      val edges = forkDriversAgree(Assembler.LongKeys, counts, k, Seq(0, 2, 4, 8), ctx)
      if (k % 2 == 0) assert(edges.length < 2 * counts.length, s"$ctx palindromes mirror once")
      // the fixture reaches the edge cases: a tied top pair, a winner at
      // exactly 2x the runner-up, a runner-up at a tested minError
      val tops = edges.groupBy(_._1.dropRight(1)).values
        .map(_.map(_._2).sorted(Ordering[Long].reverse)).filter(_.length > 1)
      assert(tops.exists(c => c(0) == c(1)), s"$ctx tie")
      assert(tops.exists(c => c(0) == 2 * c(1)), s"$ctx 2x")
      assert(tops.exists(c => Set(2L, 4L, 8L)(c(1))), s"$ctx count == minError")
    }
    // w = 2 word keys in the word regime: arms around random (k-1)-mer
    // nodes, plus four-way ties (A/C/G/T + node) at the top count. At k = 32
    // the first base fills a lower word's bits 62-63, so A and G arms differ
    // only in that word's bit 63: a signed word compare would crown G
    // instead of A.
    for (seed <- 1 to 2; k <- Seq(32, 37)) {
      val rnd = new scala.util.Random(seed * 31L + k)
      val nodes = Seq.fill(20)(randGenome(k - 1, rnd.nextLong()))
      val arms = nodes.flatMap(nd => "ACGT".filter(_ => rnd.nextBoolean()).flatMap(b => Seq(s"$nd$b", s"$b$nd")))
      val counts = (arms.map(_ -> ladder(rnd.nextInt(ladder.length))).toMap ++
        nodes.take(6).flatMap(nd => "ACGT".map(b => s"$b$nd" -> 32L))).toSeq
        .map { case (km, c) => (wordKey(km), c) }
      forkDriversAgree(Assembler.WordKeys, counts, k, Seq(0, 2, 8), s"seed=$seed k=$k")
    }
  }

  test("fork filter is strand-symmetric: the kept edges are closed under reverse complement") {
    // random canonical count tables on few (k-1)-mer nodes, arms on both
    // sides of each: planted error arms (coverage 1 or 2 next to 16) and
    // exact ties at the top count; odd, even (palindromes) and w = 2 k
    val rules = Seq(0, 2, 8).flatMap(me => Seq(false, true).map(Assembler.ForkRule(popBubbles = true, me, _))) :+
      Assembler.ForkRule(popBubbles = false, 0, scramble = false)
    def check[K](r: Assembler.KeyRegime[K], key: String => K, k: Int, seed: Int): Unit = {
      val rnd = new scala.util.Random(seed * 131L + k)
      val w = KmerCodec.wordsFor(k)
      def str(a: Array[Long], off: Int) = KmerCodec.decodeBlocks(KmerCodec.wordsToBlocks(a, off, k))
      val strs = Seq.fill(12)(randGenome(k - 1, rnd.nextLong())).flatMap { nd =>
        "ACGT".filter(_ => rnd.nextInt(3) > 0).flatMap(b => Seq(s"$nd$b", s"$b$nd"))
      }.map(canonStr).distinct.map(_ -> Seq(1L, 2L, 16L, 16L)(rnd.nextInt(4)))
      val counts = strs.map { case (km, c) => (key(km), c) }
      val (km, cn) = Assembler.mirrorLocal(r, counts.iterator, k)
      val mirrored = Assembler.mirror(r, spark.createDataset(counts)(r.countEnc).toDF(), k).cache()
      // the fixture plants what breaks symmetry: a tied top pair and an
      // error arm on one node
      val groups = cn.indices.groupBy(e => str(km, e * w).dropRight(1)).values.map(_.map(cn(_)).sorted.reverse)
      assert(groups.exists(g => g.length > 1 && g(0) == g(1)), s"k=$k seed=$seed: no tie")
      assert(groups.exists(g => g.length > 1 && g(0) >= 2 * g.last && g.last <= 2), s"k=$k seed=$seed: no error arm")
      for (rule <- rules) {
        def closed(kept: Seq[(String, Boolean, Boolean)], path: String): Unit =
          assert(kept.toSet == kept.map { case (m, sh, st) => (rcStr(m), st, sh) }.toSet,
            s"k=$k seed=$seed $rule $path")
        val (kept, barriers) = Assembler.forkLocal(km, cn, k, rule)
        val bs = (0 until barriers.length by w).map(o => str(barriers, o).tail).toSet
        closed(kept.toSeq.map(e => str(km, e * w)).map(m => (m, bs(m.dropRight(1)), bs(m.drop(1)))), "single task")
        closed(Assembler.forkEdges(r, mirrored, k, rule).collect().toSeq.map { case (m, sh, st) =>
          val a = new Array[Long](w); r.put(m, a, 0); (str(a, 0), sh, st)
        }, "distributed")
      }
      mirrored.unpersist()
    }
    for (seed <- 1 to 4) {
      check(Assembler.LongKeys, KmerCodec.encodeLong(_: String), 7, seed)
      check(Assembler.LongKeys, KmerCodec.encodeLong(_: String), 8, seed)
      check(Assembler.WordKeys, wordKey, 33, seed)
    }
  }

  test("forced distributed k = 41: no exchange carries a string column") {
    import spark.implicits._
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.util.QueryExecutionListener
    val genome = randGenome(2000, seed = 67)
    val counts = Genomics.countCanonical(reads(genome, 80, 9).toDS(), 41).localCheckpoint()
    // the output types of every exchange the eager part of assemble() runs:
    // the seed's fork filter and the contraction rounds
    val exchanged = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val plans = new AdaptiveSparkPlanHelper {}
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.collect(qe.executedPlan) { case e: ShuffleExchangeLike => e }
          .foreach(e => exchanged.add(e.output.map(_.dataType.simpleString).mkString(", ")))
      def onFailure(f: String, qe: QueryExecution, ex: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val contigs = try stagesOf(Assembler.assemble(counts, 41, localThreshold = 0))._1
      finally spark.listenerManager.unregister(listener)
    assert(exchanged.size >= 2, "the fork filter's two sides shuffle")
    exchanged.forEach(e => assert(!e.contains("string"), s"an exchange carries a string: $e"))
    assert(contigs.collect().toSeq == Seq(canonStr(genome)))
  }

  test("below the k-mer gate: one single-task stage after the count checkpoint, no fork-filter shuffle") {
    import spark.implicits._
    val genome = randGenome(3000, seed = 61)
    val rds = reads(genome, 80, 9).toDS()
    def shuffled(st: Seq[StageInfo]) = st.map(_.taskMetrics.shuffleWriteMetrics.recordsWritten).sum
    for (k <- Seq(31, 41)) {
      val counts = Genomics.countCanonical(rds, k).localCheckpoint()
      val nKmers = counts.count()
      val before = Counters.snapshot
      val (ds, eager) = stagesOf(Assembler.assemble(counts, k))
      val counted = Counters.diff(before, Counters.snapshot)
      // assemble() itself only checkpoints and counts the solid k-mers: no
      // stage writes more than the count's one partial row per task
      assert(eager.nonEmpty)
      eager.foreach(st => assert(st.taskMetrics.shuffleWriteMetrics.recordsWritten <= st.numTasks,
        s"stage ${st.stageId} (${st.name}) shuffled per-k-mer rows"))
      assert(counted.get("assembler.local_kmers").contains(nKmers))
      assert(counted.get("assembler.seed_rows").isEmpty)
      // the result: exactly one stage reads the checkpoint, in ONE task, and
      // shuffles only the distinct contigs
      val (out, lazyStages) = stagesOf(ds.collect())
      assert(out.toSeq == Seq(canonStr(genome)), s"k=$k")
      val sources = lazyStages.filter(_.parentIds.isEmpty)
      assert(sources.map(_.numTasks) == Seq(1), s"k=$k source stages: $sources")
      assert(shuffled(lazyStages) <= out.length)
      // the fully distributed path on the same table shuffles every edge
      // before assemble() returns — the pin above would catch a fall-back
      val (_, dist) = stagesOf(Assembler.assemble(counts, k, localThreshold = 0))
      assert(shuffled(dist) >= nKmers)
    }
  }
}
