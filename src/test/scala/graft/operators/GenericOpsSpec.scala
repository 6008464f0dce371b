package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.col
import graft.TestSpark
import graft.core.KmerIter
import Dna._

/** Specs for the generic (CLI-facing) forms of the round-3 operators:
  * mercy rescue, overlap merger, cross-k reduce, reassemble, and the
  * `-bubble` (popBubbles=false) fork mode. */
class GenericOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("mercyKmers rescues exactly the non-solid kmers between solid anchors") {
    import spark.implicits._
    val k = 21
    val g = randGenome(80, seed = 41)
    // prefix [0,30) and suffix [50,80) double-covered; middle only in g
    val rds = Seq(g, g.substring(0, 30), g.substring(0, 30),
      g.substring(50, 80), g.substring(50, 80))
    val rescued = Rescue.mercyKmers(rds.toDS(), k, solidCov = 2)
      .as[String].collect().toSet
    val solid = (0 to 9).map(i => canonStr(g.substring(i, i + k))).toSet ++
      (50 to 59).map(i => canonStr(g.substring(i, i + k))).toSet
    val expected = (10 to 49).map(i => canonStr(g.substring(i, i + k))).toSet -- solid
    assert(rescued == expected)
  }

  /** Halves of `g` split at `at` are double-covered; the junction is
    * crossed by ONE read only, `bridge`, so its bridging k-mers have count
    * 1 and a minCov = 2 gate splits g. The bridge reaches >= k bases into
    * both halves, so it holds solid anchors on each side of its non-solid
    * middle (the rescue precondition): mercy assembles g whole. */
  private def mercyBridges(k: Int, g: String, at: Int, bridge: (Int, Int)): Unit = {
    import spark.implicits._
    val rds = Seq(g.take(at), g.take(at), g.drop(at), g.drop(at),
      g.substring(bridge._1, bridge._2)).toDS()
    val counts = Genomics.countCanonical(rds, k)
    val without = Assembler.assemble(counts.filter(col("count") >= 2), k,
      minCov = 2, maxIter = 60).collect().toSeq
    assert(!without.contains(canonStr(g)))
    val mercied = Rescue.applyMercy(counts, rds, k, minCov = 2)
    assert(Assembler.assemble(mercied, k, minCov = 2, maxIter = 60).collect().toSeq == Seq(canonStr(g)))
  }

  test("applyMercy lifts gap-bridging kmers over the coverage gate") {
    mercyBridges(21, randGenome(120, seed = 139), 60, (30, 95))
  }

  test("applyMercy lifts gap-bridging kmers over the gate in the block regime (k=40)") {
    mercyBridges(40, randGenome(160, seed = 149), 80, (35, 125))
  }

  test("overlapMergeContigs splices on exact suffix/prefix overlap, passes others through") {
    import spark.implicits._
    val g = randGenome(100, seed = 43)
    val a = g.substring(0, 60)
    val b = g.substring(40, 100) // overlaps a by 20
    val lone = randGenome(50, seed = 47)
    val merged = Rescue.overlapMergeContigs(Seq(a, b, lone).toDS(), overlap = 20)
      .collect().toSet
    assert(merged == Set(g, lone))
  }

  test("overlapMergeContigs splices chains to a fixpoint without duplicating interiors") {
    import spark.implicits._
    val g = randGenome(150, seed = 51)
    // chain A→B→C→D, each overlapping the next by exactly 20
    val parts = Seq(g.substring(0, 50), g.substring(30, 80),
      g.substring(60, 110), g.substring(90, 150))
    val merged = Rescue.overlapMergeContigs(parts.toDS(), overlap = 20)
      .collect().toSeq
    assert(merged == Seq(g)) // ONE full contig, no overlapping partials
    // a perfect 2-cycle has no chain head: passes through unchanged
    val x = "ACGTACGTACGTACGTACGTTTTT"
    val y = x.substring(x.length - 20) + x.substring(0, 20)
    val cyc = Rescue.overlapMergeContigs(Seq(x, y).toDS(), overlap = 20)
      .collect().toSet
    assert(cyc == Set(x, y))
    // ambiguous fork (two contigs share one prefix key): nothing merges
    val p = randGenome(60, seed = 52)
    val q1 = p.substring(40) + randGenome(30, seed = 53)
    val q2 = p.substring(40) + randGenome(30, seed = 54)
    val fork = Rescue.overlapMergeContigs(Seq(p, q1, q2).toDS(), overlap = 20)
      .collect().toSet
    assert(fork == Set(p, q1, q2))
  }

  test("reduceCounts drops short kmers subsumed left- or right-aligned by long kmers") {
    import spark.implicits._
    val shortT = Seq(("AAACC", 3L), ("CCCGG", 2L), ("AAAAA", 7L)).toDF("kmer", "count")
    val longT = Seq(("AAACCCGG", 5L)).toDF("kmer", "count")
    // left-aligned sub = canon(AAACC) = AAACC; right-aligned = canon(CCCGG) = CCCGG
    val out = Dynamic.reduceCounts(shortT, longT, 5, 8)
      .as[(String, Long)].collect().toSet
    assert(out == Set(("AAAAA", 7L)))
  }

  test("reassemble extends a truncated contig with tail-only reads to the full genome") {
    import spark.implicits._
    val g = randGenome(200, seed = 53)
    val contig = g.substring(0, 120)
    val rds = (100 to 168 by 4).map(i => g.substring(i, i + 32)) :+ g.substring(168, 200)
    val out = Pipelines.reassemble(spark, Seq(contig).toDS(), rds.toDS(), k = 21)
      .collect().toSeq
    assert(out == Seq(canonStr(g)))
  }

  test("last-mile local contraction matches distributed contraction (incl. a cycle)") {
    import spark.implicits._
    val k = 21
    val g = randGenome(500, seed = 73)
    val circ = g + g.substring(0, 80) // reads across the wrap close a De Bruijn cycle
    val lin = randGenome(300, seed = 79)
    val rds = (0 to circ.length - 60 by 5).map(i => circ.substring(i, i + 60)) ++
      ((0 to lin.length - 60 by 5) :+ (lin.length - 60)).distinct
        .map(i => lin.substring(i, i + 60))
    val counts = Genomics.countCanonical(rds.toDS(), k).localCheckpoint()
    val local = Assembler.assemble(counts, k, minCov = 1, maxIter = 80)
      .collect().toSet
    val dist = Assembler.assemble(counts, k, minCov = 1, maxIter = 80,
      localThreshold = 0).collect().toSet
    assert(local.nonEmpty)
    assert(local == dist)
  }

  test("single-task assembly == distributed at Main's defaults on repeats and read errors") {
    import spark.implicits._
    val k = 31
    for (seed <- Seq(7, 19)) {
      val rnd = new scala.util.Random(seed)
      // four unique 1 kbp stretches joined by three copies of one repeat
      val rep = randGenome(120, seed * 10L)
      val g = (1 to 4).map(i => randGenome(1000, seed * 10L + i)).mkString(rep)
      def sub(c: Char) = "ACGT".filter(_ != c)(rnd.nextInt(3))
      // 20x of 100 bp reads, half reverse-complemented, 0.5% substitutions
      val noisy = (0 until g.length / 5).map { _ =>
        val i = rnd.nextInt(g.length - 99)
        g.substring(i, i + 100).map(c => if (rnd.nextInt(200) == 0) sub(c) else c)
      }
      // recurrent errors: three reads share each substitution, so the error
      // arm passes minCov = 2 and only the minError rule can drop it
      val recurrent = (0 until 8).flatMap { _ =>
        val i = rnd.nextInt(g.length - 99)
        val w = g.substring(i, i + 100)
        Seq.fill(3)(w.updated(50, sub(w(50))))
      }
      val rds = (noisy ++ recurrent).map(w => if (rnd.nextBoolean()) w else rcStr(w))
      val counts = Genomics.countCanonical(rds.toDS(), k).localCheckpoint()
      for (scramble <- Seq(false, true)) {
        def run(localThreshold: Long) =
          Assembler.assemble(counts, k, minCov = 2, maxIter = 150, minError = 8,
            scramble = scramble, localThreshold = localThreshold).collect().toSet
        val local = run(4000000L)
        assert(local.size > 1, s"seed=$seed scramble=$scramble")
        assert(local == run(0L), s"seed=$seed scramble=$scramble")
      }
    }
  }

  test("wide-k local contraction matches distributed contraction") {
    import spark.implicits._
    val k = 40
    val g = randGenome(300, seed = 83)
    val rds = ((0 to g.length - 80 by 7) :+ (g.length - 80)).distinct
      .map(i => g.substring(i, i + 80))
    val counts = Genomics.countCanonical(rds.toDS(), k).localCheckpoint()
    val local = Assembler.assemble(counts, k, minCov = 1, maxIter = 80)
      .collect().toSet
    val dist = Assembler.assemble(counts, k, minCov = 1, maxIter = 80,
      localThreshold = 0).collect().toSet
    assert(local == Set(canonStr(g)))
    assert(local == dist)
  }

  test("minError fork rule: error arms merge through, repeat-grade arms stay contested") {
    import spark.implicits._
    val k = 31
    val p = randGenome(120, seed = 101)
    val q = randGenome(120, seed = 103)
    val v1 = randGenome(100, seed = 107)
    val v2 = randGenome(100, seed = 109)
    def rds(g: String, copies: Int) =
      (1 to copies).flatMap(_ =>
        ((0 to g.length - 80 by 7) :+ (g.length - 80)).distinct.map { i =>
          val w = g.substring(i, i + 80); if (i % 2 == 0) w else rcStr(w)
        })
    // error case: main path 10x, variant arm 1x -> loser cov 1 <= 8 and
    // outweighed 2x -> dropped; the winner genome reconstructs exactly
    val errCounts = Genomics.countCanonical(
      (rds(p + v1 + q, 10) ++ rds(p + v2 + q, 1)).toDS(), k)
    val errOut = Assembler.assemble(errCounts, k, minCov = 1, maxIter = 60,
      minError = 8).collect().toSeq
    assert(errOut.contains(canonStr(p + v1 + q)))
    // repeat case: both arms 5x -> loser cov 5 > wc/2 -> contested node,
    // no contig spans the fork junctions
    val repCounts = Genomics.countCanonical(
      (rds(p + v1 + q, 5) ++ rds(p + v2 + q, 5)).toDS(), k)
    val repOut = Assembler.assemble(repCounts, k, minCov = 1, maxIter = 60,
      minError = 8).collect().toSeq
    assert(repOut.map(_.length).max < p.length + 2 * k)
    // and without the rule the same input merges straight through a fork
    val noRule = Assembler.assemble(repCounts, k, minCov = 1, maxIter = 60)
      .collect().toSeq
    assert(noRule.map(_.length).max >= p.length + v1.length - 2 * k)
  }

  test("inverted repeat cannot hairpin into the reverse strand under minError") {
    import spark.implicits._
    val k = 21
    val r = randGenome(30, seed = 113) // inverted repeat, k-1 <= |r| < 2k
    val g = randGenome(150, seed = 127) + r + randGenome(100, seed = 131) +
      rcStr(r) + randGenome(150, seed = 137)
    val rds = (1 to 5).flatMap(_ =>
      ((0 to g.length - 60 by 5) :+ (g.length - 60)).distinct.map { i =>
        val w = g.substring(i, i + 60); if (i % 2 == 0) w else rcStr(w)
      })
    val counts = Genomics.countCanonical(rds.toDS(), k).localCheckpoint()
    // contested forks at the repeat junctions -> every contig stays on one
    // strand (a substring of g or rc(g)); without the rule the max-coverage
    // winner can walk into the reverse strand and emit a hairpin chimera
    val out = Assembler.assemble(counts, k, minCov = 1, maxIter = 60,
      minError = 8).collect().toSeq
    assert(out.nonEmpty)
    out.foreach(c => assert(g.contains(c) || rcStr(g).contains(c),
      s"chimeric contig of length ${c.length}"))
    // the dynamic ladder then bridges the break: k=41 has k-1 > |r|, so the
    // repeat is no longer a fork and the genome reconstructs end-to-end
    val dir = java.nio.file.Files.createTempDirectory("graft-ladder").toString
    val contigs = Pipelines.dynamicAssembly(spark, rds.toDS(), Seq(21, 41),
      dir, minCov = 1, minError = 8).collect().toSeq
    assert(contigs.contains(canonStr(g)))
  }

  test("fuzz: local and distributed contraction agree on random genome mixes") {
    import spark.implicits._
    for (seed <- Seq(211, 223, 227)) {
      val rnd = new scala.util.Random(seed)
      val k = if (seed % 2 == 0) 25 else 33 // straddle the Long/wide boundary
      val genomes = (0 until 3).map(_ => randGenome(150 + rnd.nextInt(300), rnd.nextLong()))
      val rds = genomes.flatMap { g =>
        ((0 to g.length - 70 by 6) :+ (g.length - 70)).distinct.map { i =>
          val w = g.substring(i, i + 70); if (rnd.nextBoolean()) w else rcStr(w)
        }
      }
      val counts = Genomics.countCanonical(rds.toDS(), k).localCheckpoint()
      val local = Assembler.assemble(counts, k, minCov = 1, maxIter = 80).collect().toSet
      val dist = Assembler.assemble(counts, k, minCov = 1, maxIter = 80,
        localThreshold = 0).collect().toSet
      assert(local == dist, s"seed=$seed k=$k")
    }
  }

  test("popBubbles=false keeps both bubble arms as separate contigs") {
    import spark.implicits._
    val k = 31
    val p = randGenome(120, seed = 59)
    val q = randGenome(120, seed = 61)
    val v1 = randGenome(100, seed = 67)
    val v2 = randGenome(100, seed = 71)
    val ga = p + v1 + q
    val gb = p + v2 + q
    def rds(g: String) =
      ((0 to g.length - 80 by 7) :+ (g.length - 80)).distinct.map { i =>
        val w = g.substring(i, i + 80); if (i % 2 == 0) w else rcStr(w)
      }
    val counts = Genomics.countCanonical((rds(ga) ++ rds(gb)).toDS(), k)

    val popped = Assembler.assemble(counts, k, minCov = 1, maxIter = 40).collect().toSeq
    val kept = Assembler.assemble(counts, k, minCov = 1, maxIter = 40,
      popBubbles = false).collect().toSeq

    val inputKmers = (rds(ga) ++ rds(gb)).flatMap(r => KmerIter.canonicalLong(r, k)).toSet
    kept.foreach { c =>
      KmerIter.canonicalLong(c, k).foreach(kv => assert(inputKmers.contains(kv)))
    }
    // both variant arms survive the no-pop mode (their interior kmers are
    // unambiguous)
    def hasArm(contigs: Seq[String], arm: String) = {
      val probe = canonStr(arm.substring(30, 30 + k))
      contigs.exists(c => c.contains(probe) || c.contains(rcStr(probe)))
    }
    assert(hasArm(kept, v1) && hasArm(kept, v2))
    // popping merges THROUGH the fork (a contig spans prefix + an arm);
    // no-pop breaks every path at the fork nodes, so the longest contig
    // stays bounded by the shared prefix/suffix plus the junction overhang
    assert(kept.map(_.length).max < p.length + 2 * k)
    assert(popped.map(_.length).max >= p.length + v1.length - 2 * k)
  }

  test("g13 minimizers: every window selects exactly one, density near 2/(w+1)") {
    import spark.implicits._
    val got = Genomics.queries("g13_minimizers")(spark, "/root/testdata/sf0.001")
      .select("km", "n_docs", "n_sel").as[(String, Long, Long)].collect()
    // 500 docs x (54 kmer positions -> 47 windows of w=8): each window
    // selects exactly one minimizer hash, so selections sum to 500*47
    assert(got.map(_._3).sum == 500L * 47)
    assert(got.forall(r => r._2 >= 1 && r._1.length == 11))
    // expected distinct selected positions/doc ~ 2/(w+1) * 54 ≈ 12 of 54;
    // globally the distinct-minimizer table must be well under the full
    // 11-mer table (the sketch's point) but far from degenerate
    assert(got.length > 2000 && got.length < 12000, s"got ${got.length}")
  }

  test("g14 overlap seeding: all adjacent read pairs, no cross-doc pairs") {
    import spark.implicits._
    val got = Genomics.queries("g14_minimizer_overlap")(spark, "/root/testdata/sf0.001")
      .select("ra", "rb", "n_shared").as[(Long, Long, Long)].collect()
    // 500 docs x 5 reads (step 8 over 64 bases): every adjacent pair
    // (24-base overlap) must seed — 4 per doc — and no pair may span docs
    val adjacent = got.filter(p => p._1 / 8 == p._2 / 8 && p._2 - p._1 == 1)
    assert(adjacent.length == 500 * 4, s"adjacent ${adjacent.length}")
    assert(got.forall(p => p._1 / 8 == p._2 / 8), "cross-doc false positive")
    assert(got.forall(_._3 >= 3))
  }

  test("t28 DSIR votes: every train doc scored, one vote per bigram") {
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    val got = TextOps.queries("t28_dsir_votes")(spark, sf)
      .select("doc_id", "dsir_votes", "n_feat").as[(Long, Long, Long)].collect()
    val nTrain = spark.read.parquet(s"$sf/documents.parquet")
      .filter(col("doc_id") % 100 =!= 0).count()
    assert(got.length == nTrain)
    // |votes| <= n_feat (each bigram votes +/-1) and both signs occur
    assert(got.forall(r => math.abs(r._2) <= r._3 && r._3 > 0))
    assert(got.exists(_._2 > 0) || got.exists(_._2 < 0))
  }

  test("e15 decay score: dyadic weights bound the score, recent > stale") {
    import spark.implicits._
    val got = Events.queries("e15_decay_score")(spark, "/root/testdata/sf0.001")
      .select("user_id", "score", "n_events").as[(Long, Long, Long)].collect()
    assert(got.nonEmpty)
    // every event weighs at most 2^12 and at least 0
    assert(got.forall(r => r._2 >= 0 && r._2 <= 4096L * r._3))
  }

  test("g15 pagerank: every overlap-graph node ranked, floor respected") {
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    val pr = Genomics.queries("g15_overlap_pagerank")(spark, sf)
      .select("rid", "pr").as[(Long, Long)].collect()
    val nodes = Genomics.queries("g14_minimizer_overlap")(spark, sf)
      .select(col("ra").as("rid")).union(
        Genomics.queries("g14_minimizer_overlap")(spark, sf).select(col("rb")))
      .distinct().count()
    assert(pr.length == nodes)
    // damping floor: an all-leaked node still holds 1500; no rank explodes
    // past the total mass bound
    assert(pr.forall(r => r._2 >= 1500 && r._2 < 10000L * pr.length))
  }

  test("t33 NFC kernel: composition, exclusions, reordering, changed flag") {
    import spark.implicits._
    // (input, expected-NFC) as codepoint escapes: basic composition,
    // canonical REORDERING before composition (dot-below U+0323 sorts
    // before dot-above U+0307), a composition EXCLUSION (DEVANAGARI QA
    // U+0958 decomposes to U+0915+U+093C and must NOT recompose), Hangul
    // jamo -> syllable, and the Angstrom singleton U+212B -> U+00C5
    val cases = Seq(
      ("e\u0301", "\u00e9"),
      ("q\u0307\u0323", "q\u0323\u0307"),
      ("\u0915\u093c", "\u0915\u093c"),
      ("\u1100\u1161\u11a8", "\uac01"),
      ("\u212b", "\u00c5"),
      ("plain ascii", "plain ascii"))
    val out = cases.zipWithIndex
      .map { case ((in, _), i) => (i.toLong, in) }
      .toDF("doc_id", "text")
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, t) =>
        val nt = java.text.Normalizer.normalize(t, java.text.Normalizer.Form.NFC)
        (id, if (t == nt) 0 else 1, nt)
      })
      .collect().sortBy(_._1)
    cases.zipWithIndex.foreach { case ((in, want), i) =>
      assert(out(i)._3 == want,
        s"case $i: ${in.map(c => f"U+$c%04X").mkString(" ")}")
      assert(out(i)._2 == (if (in == want) 0 else 1), s"changed flag, case $i")
    }
  }

  test("t34 chunking: reconstruction, 40-char overlap, content-addressed ids") {
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    val got = TextOps.queries("t34_chunk_overlap")(spark, sf)
      .as[(Long, Int, Int, Int, String)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(got.keySet == docs.keySet)
    got.foreach { case (id, chunks) =>
      val text = docs(id)
      val expected = (0 to (text.length - 1) / 160)
        .map(i => text.substring(i * 160, math.min(i * 160 + 200, text.length)))
      // indices contiguous from 0; ids content-addressed; n_chars true
      assert(chunks.map(_._2).toSeq == expected.indices.toSeq, s"doc $id idx")
      chunks.zip(expected).foreach { case ((_, i, start, n, hid), exp) =>
        assert(start == i * 160 + 1 && n == exp.length && hid == md5hex(exp),
          s"doc $id chunk $i")
      }
      // stride-prefix concatenation reconstructs the document exactly
      val rebuilt = expected.init.map(_.take(160)).mkString + expected.last
      assert(rebuilt == text, s"doc $id reconstruction")
      // consecutive full chunks share exactly the 40-char overlap
      expected.sliding(2).foreach {
        case Seq(a, b) if a.length == 200 =>
          assert(a.substring(160) == b.take(40), s"doc $id overlap")
        case _ => ()
      }
    }
  }

  test("e19 attribution: bucketed range join is complete; credit sums to 1") {
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    val got = Events.queries("e19_attribution")(spark, sf)
      .as[(Long, Long, Long, Double)].collect()
    assert(got.nonEmpty)
    // independent naive range join over the raw table
    val ev = graft.Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"),
        org.apache.spark.sql.functions.unix_micros(col("ts")).as("tus"),
        col("event_type"))
      .as[(Long, Long, Long, String)].collect()
    val horizon = 7L * 86400 * 1000000
    val clicks = ev.filter(_._4 == "click")
    val brute = (for {
      (pid, pu, pts, _) <- ev.filter(_._4 == "purchase")
      (cid, cu, cts, _) <- clicks
      if cu == pu && cts >= pts - horizon && cts < pts
    } yield (pid, cid)).toSet
    assert(got.map(r => (r._1, r._2)).toSet == brute,
      "bucketed join pairs != naive range join pairs")
    // position rule: per purchase the credits sum to 1 (n>=3 sums
    // 0.4+0.4+(n-2)*0.2/(n-2); fp error bounded)
    got.groupBy(_._1).foreach { case (pid, rows) =>
      val sum = rows.map(_._4).sum
      assert(math.abs(sum - 1.0) < 1e-9, s"purchase $pid credit sum $sum")
      val n = rows.size
      val first = rows.minBy(_._3)._4
      val last = rows.maxBy(_._3)._4
      if (n == 1) assert(first == 1.0)
      else if (n == 2) assert(first == 0.5 && last == 0.5)
      else assert(first == 0.4 && last == 0.4)
    }
  }

  test("t35 gate == independent BigInt z-square check over t25 scores") {
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    val per = TextOps.queries("t25_bigram_surprisal")(spark, sf)
      .select("doc_id", "n_bigrams", "surprisal_bits")
      .as[(Long, Long, Long)].collect()
    val scores = per.map { case (id, nb, sb) => (id, BigInt(sb * 10000L / nb)) }
    val n = BigInt(scores.length)
    val s1 = scores.map(_._2).sum
    val s2 = scores.map(x => x._2 * x._2).sum
    val expect = scores.map { case (id, x) =>
      val dev = n * x - s1
      (id, (x.toLong, if (dev * dev <= 4 * (n * s2 - s1 * s1)) 1 else 0))
    }.toMap
    val got = TextOps.queries("t35_surprisal_gate")(spark, sf)
      .as[(Long, Long, Int)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got == expect)
    // the gate is two-sided and non-trivial on the real corpus
    val flags = got.values.map(_._2).toSet
    assert(flags == Set(0, 1), s"degenerate gate: $flags")
  }
}
