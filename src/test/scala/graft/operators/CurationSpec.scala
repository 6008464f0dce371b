package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Each curation verdict must fire for exactly the right reason. */
class CurationSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def flags(docs: Seq[(Long, String)], test: Seq[(Long, String)])
      : Map[Long, (Int, Int, Int, Int, Int)] = {
    import spark.implicits._
    Curation.curate(docs.toDF("doc_id", "text"), test.toDF("doc_id", "text"))
      .drop("split")
      .as[(Long, Int, Int, Int, Int, Int, Int, Int, Int)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._9))).toMap
  }

  private val nearA = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
    "lambda the mu nu xi omicron pi rho sigma tau"

  test("exact dup, near dup, low quality, and contaminated docs are each flagged") {
    val good = "the quick brown fox jumps over a lazy dog of the north in winter time"
    val nearB = nearA.split(" ").dropRight(1).mkString(" ") // near-dup of nearA
    val benchGram = "held out benchmark five gram"
    val docs = Seq(
      1L -> good,                                  // survives everything
      2L -> good,                                  // exact dup of 1
      3L -> nearA,                                 // near-dup cluster min: kept
      4L -> nearB,                                 // near-dup loser: dropped
      5L -> "too short",                           // quality: < 10 tokens
      6L -> s"a clean doc of the corpus with $benchGram inside it here") // contaminated
    val test = Seq(100L -> s"some benchmark text with $benchGram and more words")
    val f = flags(docs, test)
    assert(f(1L) == ((1, 1, 1, 1, 1)), f(1L))
    assert(f(2L)._1 == 0 && f(2L)._5 == 0, f(2L))             // exact dup dropped
    assert(f(3L)._2 == 1, f(3L))                              // cluster min kept
    assert(f(4L)._2 == 0 && f(4L)._5 == 0, f(4L))             // near-dup dropped
    assert(f(5L)._3 == 0 && f(5L)._5 == 0, f(5L))             // quality fail
    assert(f(6L)._4 == 0 && f(6L)._5 == 0, f(6L))             // contaminated
  }

  /** The d17 bucket rule over a cluster canon id: the first two hex
    * digits of md5(id) are its first digest byte. */
  private def d17Split(id: Long): String = {
    val b = java.security.MessageDigest.getInstance("MD5")
      .digest(id.toString.getBytes("UTF-8"))(0) & 0xff
    if (b < 13) "test" else if (b < 26) "val" else "train"
  }

  test("cluster split: a near-dup cluster takes its minimum's bucket, a singleton its own") {
    import spark.implicits._
    // ids picked so a per-document bucket would split the cluster: the
    // minimum lands in test/val on its own, the other members in train
    val ids = 1L to 5000L
    val canon = ids.find(d17Split(_) != "train").get
    val members = ids.filter(i => i > canon && d17Split(i) == "train").take(2)
    val single = ids.find(i => i > members.last && d17Split(i) != "train").get
    val ws = nearA.split(" ")
    val docs = Seq(canon -> nearA, members(0) -> ws.dropRight(1).mkString(" "),
      members(1) -> ws.dropRight(2).mkString(" "),
      single -> "the quick brown fox jumps over a lazy dog of the north in winter time")
      .toDF("doc_id", "text")
    val test = Seq(100000L -> "held out benchmark totally different words here")
      .toDF("doc_id", "text")
    val rows = Curation.curate(docs, test, clusterSplit = true)
      .select("doc_id", "nd_keep", "split").as[(Long, Int, String)].collect()
    val nd = rows.map(r => r._1 -> r._2).toMap
    val split = rows.map(r => r._1 -> r._3).toMap
    assert(nd(canon) == 1 && members.forall(nd(_) == 0), nd) // the cluster formed
    (canon +: members).foreach(i => assert(split(i) == d17Split(canon), (i, split)))
    assert(split(single) == d17Split(single), split)
  }

  test("clusterSplit changes the split column and nothing else") {
    import spark.implicits._
    val ws = nearA.split(" ")
    val docs = ((1L to 30L).map(i => i -> s"the doc $i of a corpus with its own words w$i x$i y$i z$i") ++
      Seq(40L -> nearA, 41L -> ws.dropRight(1).mkString(" "), 42L -> nearA, 43L -> "too short"))
      .toDF("doc_id", "text")
    val test = Seq(100L -> "some benchmark text with doc 7 of a corpus and more words")
      .toDF("doc_id", "text")
    val on = Curation.curate(docs, test, clusterSplit = true)
    val off = Curation.curate(docs, test)
    assert(on.schema == off.schema)
    assert(off.select("split").distinct().as[String].collect().toSeq == Seq("train"))
    assert(on.drop("split").collect().toSet == off.drop("split").collect().toSet)
    val split = on.select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(split.size == 34 && split.values.toSet.size > 1, split)
  }

  test("NULL texts are one exact-dedup group: its minimum doc_id keeps, the rest drop") {
    import spark.implicits._
    val good = "the quick brown fox jumps over a lazy dog of the north in winter time"
    val docs = Seq[(Long, String)](7L -> null, 3L -> null, 5L -> good).toDF("doc_id", "text")
    val test = Seq(100L -> "held out benchmark totally different words here")
      .toDF("doc_id", "text")
    val exact = Curation.curate(docs, test).select("doc_id", "exact_keep")
      .as[(Long, Int)].collect().toMap
    assert(exact == Map(3L -> 1, 7L -> 0, 5L -> 1), exact)
  }

  test("a text copied 500 times: exact_keep == brute force (min doc_id per text keeps)") {
    import spark.implicits._
    val rnd = new scala.util.Random(151L)
    val hot = "the hot text of the corpus copied many times over by a scraper"
    val warm = "a warm text of the corpus that a few mirrors also carry here"
    val texts = Seq.fill(500)(hot) ++ Seq.fill(40)(warm) ++
      (0 until 60).map(n => s"the doc $n of a corpus with its own words w$n x$n y$n z$n")
    val ids = rnd.shuffle((1L to 5000L).toVector).take(texts.length)
    val docs = ids.zip(texts)
    val test = Seq(100000L -> "held out benchmark totally different words here")
      .toDF("doc_id", "text")
    val brute = docs.groupBy(_._2).values
      .flatMap(g => g.map { case (id, _) => id -> (if (id == g.map(_._1).min) 1 else 0) }).toMap
    val exact = Curation.curate(docs.toDF("doc_id", "text"), test)
      .select("doc_id", "exact_keep").as[(Long, Int)].collect().toMap
    assert(exact == brute)
  }

  test("a duplicated doc_id fails the vote aggregation, naming the id") {
    import spark.implicits._
    val docs = Seq(1L -> "the quick brown fox jumps over a lazy dog of the north in winter",
      2L -> "a steel bridge spans the wide river carrying trains of coal at dawn",
      2L -> "bright comets streak across a silent sky while the observatory dome turns")
      .toDF("doc_id", "text")
    val test = Seq(100L -> "held out benchmark totally different words here")
      .toDF("doc_id", "text")
    val e = intercept[Exception](Curation.curate(docs, test).collect())
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).toSeq
    assert(msgs.exists(m => m.contains("doc_id 2 appears 2 times") &&
      m.contains("doc_id must be unique")), msgs.mkString("\n"))
  }

  test("semantic stage drops embedding-identical docs, spares unembedded ones") {
    import spark.implicits._
    // three TEXTUALLY unrelated docs (no shared shingles — the MinHash
    // stage must not fire); 10 and 11 share an embedding, 12 has none —
    // only 11 (the larger id of the identical pair) may drop
    val docs = Seq(
      10L -> "the quick brown fox jumps over a lazy dog of the north every winter",
      11L -> "a steel bridge spans the wide river carrying trains of coal at dawn",
      12L -> "bright comets streak across a silent sky while the observatory dome turns")
    val test = Seq(100L -> "held out benchmark totally different words here")
    val emb = Seq(
      (10L, Array(1.0, 0.0, 0.0)),
      (11L, Array(1.0, 0.0, 0.0))).toDF("doc_id", "v")
    val f = Curation.curate(docs.toDF("doc_id", "text"), test.toDF("doc_id", "text"),
        Some(emb), semCentroids = 2)
      .drop("split")
      .as[(Long, Int, Int, Int, Int, Int, Int, Int, Int)].collect()
      .map(r => r._1 -> ((r._6, r._9))).toMap
    assert(f(10L) == ((1, 1)), f(10L)) // identical pair: min id kept
    assert(f(11L) == ((0, 0)), f(11L)) // identical pair: larger id dropped
    assert(f(12L) == ((1, 1)), f(12L)) // no embedding: passes trivially
  }

  test("dsir stage keeps target-vocabulary docs, drops off-target ones") {
    import spark.implicits._
    // target (en) docs speak alpha/beta; off-target (fr) speak gamma/delta;
    // doc 20 is an fr doc written in the TARGET's vocabulary — DSIR must
    // select it on content, not its lang label. Unique suffix words keep
    // the exact/near-dup stages out of the way.
    def mk(i: Long, core: String, lang: String) =
      (i, s"$core the of and in to unique$i tail$i pad$i", lang)
    val docs = ((0L until 6L).map(i => mk(i, ("alpha beta " * 10).trim, "en")) ++
      (6L until 12L).map(i => mk(i, ("gamma delta " * 10).trim, "fr")) :+
      mk(20L, ("alpha beta " * 10).trim, "fr"))
      .toDF("doc_id", "text", "lang")
    val test = Seq(100L -> "held out benchmark totally different words here")
      .toDF("doc_id", "text")
    val f = Curation.curate(docs, test, dsirTargetLang = Some("en"))
      .drop("split")
      .as[(Long, Int, Int, Int, Int, Int, Int, Int, Int)].collect()
      .map(r => r._1 -> r._8).toMap
    (0L until 6L).foreach(i => assert(f(i) == 1, s"target doc $i"))
    (6L until 12L).foreach(i => assert(f(i) == 0, s"off-target doc $i"))
    assert(f(20L) == 1, "target-vocabulary fr doc must be selected")
  }
}
