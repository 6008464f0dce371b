package graft.operators

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Banded SimHash pairing (d11's core): the 4x15-bit band buckets must find
  * EXACTLY the hamming<=3 pairs — complete by pigeonhole (4 bands can
  * absorb at most 3 differing bits without one band matching), and the
  * popcount verify makes it exact. Checked against brute force on random
  * 60-bit signatures with planted near-pairs.
  */
class DedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("simhashPairs == brute-force hamming<=3 on random signatures (3 seeds)") {
    import spark.implicits._
    for (seed <- Seq(107L, 109L, 113L)) {
      val rnd = new scala.util.Random(seed)
      val mask60 = (1L << 60) - 1
      val base = Seq.fill(120)(rnd.nextLong() & mask60).distinct
      // plant near-duplicates: flip 0..4 random bits (4-bit flips must be
      // rejected by the verify even when a band still matches)
      val planted = base.take(30).map { s =>
        val flips = rnd.nextInt(5)
        (0 until flips).foldLeft(s)((v, _) => v ^ (1L << rnd.nextInt(60)))
      }
      val sigs = (base ++ planted).distinct.zipWithIndex
        .map { case (s, i) => (i.toLong, s) }
      val got = Dedup.simhashPairs(sigs.toDF("doc_id", "sig"))
        .as[(Long, Long, Long)].collect().toSet
      val brutePairs = (for {
        (sa, ia) <- sigs.map { case (i, s) => (s, i) }
        (sb, ib) <- sigs.map { case (i, s) => (s, i) } if ia < ib
        h = java.lang.Long.bitCount(sa ^ sb) if h <= 3
      } yield (ia, ib, h.toLong)).toSet
      assert(got == brutePairs, s"seed $seed: banded != brute force")
      assert(brutePairs.nonEmpty, s"seed $seed planted no near pairs")
    }
  }

  test("simhashPairs skew guard: capped hot bucket routes to block-pair groups, pair set unchanged") {
    import spark.implicits._
    val mask60 = (1L << 60) - 1
    val rnd = new scala.util.Random(131L)
    // a DEGENERATE bucket: 40 docs share band 0's low 15 bits exactly
    // (identical-signature blocks of 10, so plenty of hamming-0 pairs),
    // plus background random signatures
    val hotBase = 0xABCDL // fixed low 15 bits => one (bnd=0, bv) bucket of 40
    val blockHigh = Array.fill(4)((rnd.nextLong() & mask60) & ~((1L << 30) - 1))
    val hot = (0 until 40).map { i =>
      (1000L + i, blockHigh(i / 10) | ((i % 3).toLong << 15) | hotBase)
    }
    val bg = (0 until 60).map(i => (2000L + i, rnd.nextLong() & mask60))
    val sigs = (hot ++ bg).toSeq
    def run(cap: Int): Set[(Long, Long, Long)] =
      Dedup.simhashPairs(sigs.toDF("doc_id", "sig"), cap)
        .as[(Long, Long, Long)].collect().toSet
    val brute = (for {
      (ia, sa) <- sigs
      (ib, sb) <- sigs if ia < ib
      h = java.lang.Long.bitCount(sa ^ sb) if h <= 3
    } yield (ia, ib, h.toLong)).toSet
    assert(brute.nonEmpty)
    // cap 8 forces the 40-doc bucket over the cap
    assert(run(8) == brute, "capped (block-pair) pair set != brute force")
    assert(run(4096) == brute, "uncapped (in-place) pair set != brute force")
  }

  test("simhashPairs skew guard: two hot buckets of one band never share a block-pair group") {
    import spark.implicits._
    val mask60 = (1L << 60) - 1
    val rnd = new scala.util.Random(137L)
    // two 40-doc buckets in band 0 (low 15 bits 0x0ABC and 0x1234): at cap 8
    // both split into m = 5 blocks, so only the bucket value keeps their
    // (i, j) groups apart; identical high bits in runs of 10 give near
    // pairs inside each bucket
    val high = Array.fill(8)((rnd.nextLong() & mask60) & ~((1L << 30) - 1))
    val hot = for {
      (bv, b) <- Seq(0x0ABCL, 0x1234L).zipWithIndex
      i <- 0 until 40
    } yield (1000L + 100 * b + i, high(4 * b + i / 10) | ((i % 3).toLong << 15) | bv)
    val bg = (0 until 60).map(i => (3000L + i, rnd.nextLong() & mask60))
    val sigs = hot ++ bg
    val groups = Skew.bucketGroups(Dedup.hammingBands(
        sigs.toDF("id", "code"), 15), col("e"), col("id"), col("code"), 8)
      .select(col("k"), col("i"), col("j"), col("p"))
      .collect().groupBy(r => (r.get(0), r.getInt(1), r.getInt(2)))
    assert(groups.size >= 2 * 15) // m(m+1)/2 groups per band-0 bucket
    groups.foreach { case (g, rows) =>
      val members = rows.map(_.getLong(3))
      assert((0 until 4).exists(b => members.map(x => (x >>> (15 * b)) & 32767L).distinct.length == 1),
        s"block-pair group $g holds members of more than one bucket")
    }
    val brute = (for {
      (ia, sa) <- sigs
      (ib, sb) <- sigs if ia < ib
      h = java.lang.Long.bitCount(sa ^ sb) if h <= 3
    } yield (ia, ib, h.toLong)).toSet
    assert(brute.nonEmpty)
    assert(Dedup.simhashPairs(sigs.toDF("doc_id", "sig"), 8)
      .as[(Long, Long, Long)].collect().toSet == brute)
  }

  test("candidatePairsFrom: hot band buckets split at cap 8, pair set == brute force") {
    import spark.implicits._
    val rnd = new scala.util.Random(139L)
    def words(n: Int) = Seq.fill(n)(s"w${rnd.nextInt(400)}").mkString(" ")
    // 40 copies of one text fill the same 4 band buckets; 12 truncated
    // copies share some of them; 60 background docs
    val hotText = words(20)
    val docs = (0 until 40).map(n => (500L + 3 * n, hotText)) ++
      (0 until 12).map(n => (900L + n, hotText.split(" ").dropRight(1 + n % 3).mkString(" "))) ++
      (0 until 60).map(n => (2000L + n, words(15)))
    val bd = Dedup.bandRows(docs.toDF("doc_id", "text")).localCheckpoint()
    val rows = bd.as[(Long, Int, String)].collect()
    assert(rows.groupBy(r => (r._2, r._3)).values.exists(_.length > 8))
    val brute = (for {
      (a, ba, ha) <- rows
      (b, bb, hb) <- rows if a < b && ba == bb && ha == hb
    } yield (a, b)).toSet
    val got = Dedup.candidatePairsFrom(bd, 8).as[(Long, Long)].collect()
    assert(got.length == got.distinct.length)
    assert(got.toSet == brute)
  }

  test("bandRows (per-row, shuffle-free) == bands(signatures(shingled)) exactly") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // real corpus plus the contract edges: <3 tokens (emit nothing),
    // exactly 3 tokens (one shingle), empty text, multibyte text
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
      .unionByName(Seq(
        (900001L, ""), (900002L, "one two"), (900003L, "a b c"),
        (900004L, "汉字 émoji 🎉 mixed bytes here"))
        .toDF("doc_id", "text"))
    def key(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Int, String)].collect().toSet
    val perRow = key(Dedup.bandRows(docs))
    val batch = key(Dedup.bands(Dedup.signatures(Dedup.shingled(docs))))
    assert(perRow == batch)
    assert(perRow.exists(_._1 == 900003L)) // 3-token doc does band
    assert(!perRow.exists(_._1 == 900002L)) // <3 tokens emits nothing
  }

  test("bandRows == batch bands on seeded random corpora (3 seeds)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val alphabet = Seq("the", "of", "and", "in", "to", "a", "智能", "数据",
      "café", "🚀", "x" * 30, "1", "-", "@", "%s", "", "w1", "w2", "w3")
    for (seed <- Seq(211L, 223L, 227L)) {
      val rnd = new scala.util.Random(seed)
      val docs = (0 until 100).map { i =>
        val n = rnd.nextInt(40)
        (i.toLong, (0 until n).map(_ => alphabet(rnd.nextInt(alphabet.size)))
          .mkString(" "))
      }.toDF("doc_id", "text")
      def key(df: org.apache.spark.sql.DataFrame) =
        df.as[(Long, Int, String)].collect().toSet
      assert(key(Dedup.bandRows(docs)) ==
        key(Dedup.bands(Dedup.signatures(Dedup.shingled(docs)))),
        s"divergence at seed $seed")
    }
  }

  test("repeatedSpans merges adjacent duplicated n-grams into maximal passages") {
    import spark.implicits._
    // doc 1 and doc 2 share a 6-token passage (>= n=4 tokens -> 3 gram
    // starts, one island); doc 3 is all-unique filler and must not appear.
    val shared = "the quick brown fox jumps high"
    val docs = Seq(
      (1L, s"alpha beta $shared gamma delta epsilon zeta"),
      (2L, s"one two three four $shared five six"),
      (3L, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10")
    ).toDF("doc_id", "text")
    val got = Dedup.repeatedSpans(docs, 4)
      .as[(Long, Long, Long)].collect().toSet
    // shared passage = 6 tokens -> gram starts p, p+1, p+2 (one island of
    // span_tokens = 2 + 4 = 6); doc1 starts at token 2, doc2 at token 4
    assert(got == Set((1L, 2L, 6L), (2L, 4L, 6L)))
  }

  test("stripBoilerplate removes >=minDf per-source chunks, keeps rarer and cross-source ones") {
    import spark.implicits._
    val footer = "subscribe to our newsletter today" // 5 tokens, 2 grams at n=4
    // src A: footer in 3 docs -> boilerplate; the 2-doc "rare chunk one two"
    // repeat is below minDf=3 and must survive; src B has the footer only
    // once, so it must survive there (per-source scoping).
    val docs = Seq(
      (1L, "A", s"alpha beta $footer gamma"),
      (2L, "A", s"$footer delta epsilon zeta eta"),
      (3L, "A", s"theta $footer rare chunk one two"),
      (4L, "A", s"iota kappa rare chunk one two lambda"),
      (5L, "B", s"mu nu $footer xi")
    ).toDF("doc_id", "source", "text")
    val got = Dedup.stripBoilerplate(docs, 4, 3)
      .as[(Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L) == ((3L, "alpha beta gamma")))
    assert(got(2L) == ((4L, "delta epsilon zeta eta")))
    assert(got(3L) == ((5L, "theta rare chunk one two")))
    assert(got(4L) == ((7L, "iota kappa rare chunk one two lambda")))
    assert(got(5L) == ((8L, s"mu nu $footer xi"))) // src B: df=1, kept
  }

  test("cdcChunks: prefix insertion preserves all boundaries past the edit") {
    import spark.implicits._
    val rnd = new scala.util.Random(211L)
    val vocab = Vector("aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh")
    val text = Seq.fill(400)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val docs = Seq((1L, text), (2L, s"zz yy $text")).toDF("doc_id", "text")
    val ch = Dedup.cdcChunks(docs).select("doc_id", "chunk")
      .as[(Long, String)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    // every original chunk except the first (absorbed into the edited
    // head chunk) must reappear verbatim in the prefixed copy
    val missing = ch(1L) -- ch(2L)
    assert(missing.size <= 1, s"CDC lost ${missing.size} chunks to a prefix edit")
    assert(ch(1L).size > 10, "expected ~25 chunks from 400 words")
    // reassembly sanity: chunks concatenate back to the document
    val ordered = Dedup.cdcChunks(docs).filter($"doc_id" === 1L)
      .orderBy("chunk_id").select("chunk").as[String].collect()
    assert(ordered.mkString(" ") == text)
  }

  test("d17: near-dup clusters never straddle a split (leakage-free)") {
    import org.apache.spark.sql.functions._
    val df = Dedup.queries("d17_cluster_split")(spark, "/root/testdata/sf0.001")
      .localCheckpoint()
    // the invariant the op exists for: one split per cluster, atomically
    val straddling = df.groupBy("cluster")
      .agg(countDistinct(col("split")).as("ns")).filter(col("ns") > 1).count()
    assert(straddling == 0)
    // non-vacuous: the augmented corpus plants near-dup pairs, so
    // multi-doc clusters exist and land somewhere other than train too
    val multi = df.groupBy("cluster").count().filter(col("count") > 1).count()
    assert(multi > 0, "expected planted near-dup clusters")
    assert(df.select("split").distinct().count() == 3)
    // contrast: bucketing DOCUMENTS (t23's rule) would straddle at least
    // one of those clusters — proving cluster-keying is load-bearing
    val h = md5(col("doc_id").cast("string").cast("binary"))
    def hv(i: Int) = {
      val a = ascii(substring(h, i, 1))
      a - when(a >= 97, 87).otherwise(48)
    }
    val docBucket = hv(1) * 16 + hv(2)
    val docSplit = when(docBucket < 13, "test").when(docBucket < 26, "val")
      .otherwise("train")
    val docStraddle = df.withColumn("doc_split", docSplit)
      .groupBy("cluster").agg(countDistinct(col("doc_split")).as("ns"))
      .filter(col("ns") > 1).count()
    assert(docStraddle > 0, "doc-keyed bucketing should leak across splits")
  }

  test("xxhash64 family == md5 family on verified pairs at J >= 0.8 " +
       "(tail divergence measured, confined below the threshold)") {
    // signatures and band hashes differ completely between the md5 oracle
    // family and the xxhash64 deployment family; exact Jaccard
    // verification depends only on the shingle sets, so any divergence
    // can come ONLY from LSH candidate recall. At 2 rows x 4 bands the
    // per-pair miss probability is (1-J^2)^4 — material at J~0.6 (each
    // family misses a different handful of borderline pairs), negligible
    // at J>=0.8 (<=0.17%). The test measures exactly that: full-tail
    // sets MAY diverge, but every divergent pair sits below 0.8, and the
    // J>=0.8 sets are IDENTICAL — the claim that lets d18 gate the fast
    // family through d4's md5-reproducible DuckDB oracle at 0.8.
    val sf = "/root/testdata/sf0.001"
    val docs = Dedup.corpus(spark, sf)
    def pairs(fast: Boolean): Map[(Long, Long), Double] =
      Dedup.jaccardVerified(docs, fastHash = fast)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val md = pairs(fast = false)
    val xx = pairs(fast = true)
    assert(md.nonEmpty)
    val divergent = (md.keySet diff xx.keySet).map(md) ++
      (xx.keySet diff md.keySet).map(xx)
    assert(divergent.forall(_ < 0.8),
      s"a high-confidence pair was missed by one family: " +
        s"${divergent.filter(_ >= 0.8)}")
    val mdHi = md.filter(_._2 >= 0.8)
    val xxHi = xx.filter(_._2 >= 0.8)
    assert(mdHi.nonEmpty)
    assert(mdHi == xxHi, "J>=0.8 verified sets diverged")
  }

  test("xxhash64 band pipeline shuffles longs only — no md5 column exists") {
    // plan pin lives here (not PlanAuditSpec) because the d18 query
    // localCheckpoints its stages, which hides the hash construction from
    // the end-to-end explain; this explains the band stage directly. The
    // absence of any md5 in the plan is the scale claim: every shuffled
    // hash is an 8-byte long, and the signature min() is still a
    // partial-aggregated (map-side combined) hash aggregate.
    import org.apache.spark.sql.execution.ExplainMode
    val sf = "/root/testdata/sf0.001"
    val p = Dedup.bandsFast(Dedup.signaturesFast(
        Dedup.shingled(Dedup.corpus(spark, sf))))
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("xxhash64"), p.take(3000))
    assert(!p.toLowerCase.contains("md5"), p.take(3000))
    assert(p.contains("HashAggregate"), p.take(3000))
  }

  test("d19 substring dedup == brute-force span merge (crafted + 3 seeds)") {
    import spark.implicits._
    val L = 8
    def brute(docs: Seq[(Long, String)]): Map[Long, (Long, Long, Long)] = {
      val grams = for {
        (id, t) <- docs; p <- 1 to (t.length - L + 1)
      } yield (id, p, t.substring(p - 1, p - 1 + L))
      val crossDoc = grams.groupBy(_._3)
        .filter { case (_, g) => g.map(_._1).distinct.size > 1 }.keySet
      docs.flatMap { case (id, _) =>
        val hits = grams.filter(g => g._1 == id && crossDoc(g._3))
          .map(_._2).sorted
        if (hits.isEmpty) None
        else {
          // merge [p, p+L-1] intervals, adjacency included
          val spans = hits.tail.foldLeft(List((hits.head, hits.head + L - 1))) {
            case ((lo, hi) :: rest, p) =>
              if (p <= hi + 1) (lo, math.max(hi, p + L - 1)) :: rest
              else (p, p + L - 1) :: (lo, hi) :: rest
            case (Nil, p) => List((p, p + L - 1))
          }
          Some(id -> ((hits.size.toLong, spans.size.toLong,
            spans.map { case (lo, hi) => hi - lo + 1L }.sum)))
        }
      }.toMap
    }
    def got(docs: Seq[(Long, String)]): Map[Long, (Long, Long, Long)] =
      Dedup.substringDedup(docs.toDF("doc_id", "text"), L)
        .as[(Long, Long, Long, Long)].collect()
        .map { case (id, np, ns, dc) => id -> ((np, ns, dc)) }.toMap
    // crafted: overlap merge (shared 10-char run = 3 overlapping 8-gram
    // hits -> ONE 10-char span), adjacency merge, within-doc-only dup
    // excluded, short doc (< L) excluded
    val crafted = Seq(
      1L -> "xxABCDEFGHIJxx",   // shares ABCDEFGHIJ with doc 2
      2L -> "yyyyABCDEFGHIJ",
      3L -> "PPPPQQQQPPPPQQQQ", // within-doc repeat only: no cross-doc gram
      4L -> "short")
    val cg = got(crafted)
    assert(cg.keySet == Set(1L, 2L), cg.toString)
    assert(cg(1L) == ((3L, 1L, 10L)), s"overlap merge: ${cg(1L)}")
    for (seed <- Seq(11L, 13L, 17L)) {
      val rnd = new scala.util.Random(seed)
      // 2-letter alphabet makes cross-doc 8-gram hits dense enough to
      // exercise merging in every doc
      val docs = (0 until 25).map(i =>
        (i.toLong, Seq.fill(20 + rnd.nextInt(30))(
          if (rnd.nextBoolean()) 'a' else 'b').mkString))
      val (g, b) = (got(docs), brute(docs))
      assert(g == b, s"seed $seed: spark=${g.toSeq.sortBy(_._1).take(3)} " +
        s"brute=${b.toSeq.sortBy(_._1).take(3)}")
      assert(b.nonEmpty, s"seed $seed produced no cross-doc spans")
    }
  }

  test("d20: planted test-doc twins are caught; every pair crosses the boundary") {
    val sf = "/root/testdata/sf0.001"
    val pairs = Dedup.queries("d20_neardup_decon")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // orientation: a = train doc, b = test doc — no within-side pairs
    pairs.foreach { case (a, b) =>
      assert(a % 100 != 0 && b % 100 == 0, s"pair ($a, $b) does not cross")
    }
    // each test doc's truncated twin (id = (k+off)*100 + 1) must be found;
    // the 3-word truncation keeps J ~ 0.9, where the 4-band LSH miss
    // probability is ~(1-J^2)^4 < 0.2% — with a handful of test docs at
    // this sf, demand ALL planted leaks
    import org.apache.spark.sql.functions._
    val doc = spark.read.parquet(s"$sf/documents.parquet")
    val off = doc.agg(greatest(max(col("doc_id")) + 1, lit(100000L)))
      .first().getLong(0)
    val testIds = doc.filter(col("doc_id") % 100 === 0)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(testIds.nonEmpty)
    testIds.foreach { k =>
      assert(pairs.contains(((k + off) * 100 + 1, k)),
        s"planted twin of test doc $k not flagged")
    }
  }
}
