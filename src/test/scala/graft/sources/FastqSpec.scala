package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark
import java.nio.file.{Files, Paths}

class FastqSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def tmpDir(): String =
    Files.createTempDirectory("graft_fastq_spec").toString

  test("FASTQ 4-line parse: exact and heuristic agree on well-formed input") {
    import spark.implicits._
    val reads = Seq.tabulate(25)(i => ("ACGT" * 10) + "AC" + "GTCA" * (i % 3 + 1))
    val dir = tmpDir() + "/fq"
    Fastq.toFastqLines(reads.toDF("read")).coalesce(1)
      .write.mode("overwrite").text(dir)
    val exact = Fastq.fastqSequences(spark, dir).collect().sorted.toSeq
    val heur = Fastq.fastqSequencesHeuristic(spark, dir).collect().sorted.toSeq
    assert(exact == reads.sorted)
    assert(heur == reads.sorted)
  }

  /** Two plain FASTQ files of 60 and 25 records (file names `a`, `b`) with
    * distinct sequences, and a session split size that cuts them into many
    * byte ranges, most of them mid-record. */
  private def multiSplit[T](seqs: Seq[String], tag: String)(body: String => T): T = {
    val dir = tmpDir() + "/" + tag
    Files.createDirectories(Paths.get(dir))
    for ((name, part) <- Seq("a" -> seqs.take(60), "b" -> seqs.drop(60)))
      Files.write(Paths.get(s"$dir/$name.fq"), part.zipWithIndex.map {
        case (r, i) => s"@$tag$name$i\n$r\n+\n${"I" * r.length}\n" }.mkString.getBytes)
    val key = "spark.sql.files.maxPartitionBytes"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, "3000")
    try body(dir)
    finally old match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  private def distinctReads(n: Int, seed: Int): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(n)(Array.fill(40 + rnd.nextInt(30))("ACGT"(rnd.nextInt(4))).mkString)
  }

  test("fastqSequences reads exactly the records of several files cut into many splits") {
    val reads = distinctReads(85, seed = 3)
    multiSplit(reads, "m") { dir =>
      assert(spark.read.format("fastq").load(dir).rdd.getNumPartitions > 2)
      assert(Fastq.fastqSequences(spark, dir).collect().sorted.toSeq == reads.sorted)
    }
  }

  test("readPairedFastq pairs every mate of several files cut into many splits") {
    import spark.implicits._
    val m1 = distinctReads(85, seed = 4)
    val m2 = distinctReads(85, seed = 5)
    multiSplit(m1, "p") { d1 =>
      multiSplit(m2, "q") { d2 =>
        val pairs = Fastq.readPairedFastq(spark, d1, d2)
          .orderBy("pair_id").select("mate1", "mate2").as[(String, String)].collect().toSeq
        assert(pairs == m1.zip(m2))
      }
    }
  }

  test("-inputformat hook: named FileInputFormat class reads the same lines") {
    import spark.implicits._
    val reads = Seq.tabulate(10)(i => ("ACGT" * 8) + "GTCA" * (i % 2 + 1))
    val dir = tmpDir() + "/fq4mc"
    Fastq.toFastqLines(reads.toDF("read")).coalesce(1)
      .write.mode("overwrite").text(dir)
    // the built-in TextInputFormat stands in for a splittable codec's
    // format (hadoop-4mc etc.) — this proves the class-name seam itself
    val viaHook = Fastq.filterSequenceLines(Fastq.readLinesWithFormat(
      spark, dir, "org.apache.hadoop.mapreduce.lib.input.TextInputFormat"))
      .collect().sorted.toSeq
    assert(viaHook == reads.sorted)
    val err = intercept[ClassNotFoundException] {
      Fastq.readLinesWithFormat(spark, dir, "com.example.NoSuchFormat")
    }
    assert(err.getMessage.contains("NoSuchFormat"))
  }

  test("splittable codec for real: one bzip2 FASTQ decodes across >1 input " +
    "split with k-mer counts identical to the plain-text read") {
    import spark.implicits._
    // ~5.5 MB of FASTQ -> ~6 bzip2 blocks (900 KB uncompressed each), so a
    // small split.maxsize forces MULTIPLE real input splits over ONE
    // compressed file — the 100 TB compressed-ingest shape (one task per
    // block), exercised with Hadoop's own splittable BZip2Codec rather
    // than argued from the TextInputFormat plumbing alone.
    val rnd = new scala.util.Random(42)
    val reads = Seq.tabulate(40000)(_ =>
      Array.fill(64)("ACGT"(rnd.nextInt(4))).mkString)
    val fastq = reads.zipWithIndex.map { case (r, i) =>
      s"@r$i\n$r\n+\n${"I" * 64}" }.mkString("\n") + "\n"
    val dir = Files.createTempDirectory("graft_bz2")
    val plainF = dir.resolve("reads.fastq")
    Files.write(plainF, fastq.getBytes("UTF-8"))
    val hc = spark.sparkContext.hadoopConfiguration
    val codec = new org.apache.hadoop.io.compress.BZip2Codec()
    codec.setConf(hc)
    val bz2F = dir.resolve("reads.fastq.bz2")
    val out = codec.createOutputStream(Files.newOutputStream(bz2F))
    out.write(fastq.getBytes("UTF-8")); out.close()
    val key = "mapreduce.input.fileinputformat.split.maxsize"
    val old = Option(hc.get(key))
    hc.set(key, "131072")
    try {
      val lines = Fastq.readLinesWithFormat(spark, bz2F.toString,
        "org.apache.hadoop.mapreduce.lib.input.TextInputFormat")
      val perSplit = lines.rdd
        .mapPartitionsWithIndex((i, it) => Iterator((i, it.size)))
        .collect().toMap
      assert(perSplit.size > 1, s"expected >1 input split, got $perSplit")
      assert(perSplit.count(_._2 > 0) > 1,
        s"expected records decoded in >1 split (not one giant split + empties): $perSplit")
      val viaBz2 = graft.operators.Genomics
        .countCanonical(Fastq.filterSequenceLines(lines), 21)
        .as[(Long, Long)].collect().toMap
      val viaPlain = graft.operators.Genomics
        .countCanonical(Fastq.fastqSequencesHeuristic(spark, plainF.toString), 21)
        .as[(Long, Long)].collect().toMap
      assert(viaBz2 == viaPlain)
      assert(viaBz2.nonEmpty)
    } finally old match {
      case Some(v) => hc.set(key, v)
      case None => hc.unset(key)
    }
  }

  test("read guards drop short/long/invalid reads") {
    import spark.implicits._
    val rs = Seq("ACGTACGTACGTACGTACGTACGT", "ACG", "N" + "A" * 700, "XACGTACGT")
    val kept = Fastq.guardReads(rs.toDS(), minLen = 10).collect().toSeq
    assert(kept == Seq("ACGTACGTACGTACGTACGTACGT"))
  }

  test("FASTA sink wraps at 100 cols and source reassembles multi-line records") {
    import spark.implicits._
    val contigs = Seq("A" * 250, "C" * 100, "G" * 77).toDF("contig")
    val dir = tmpDir() + "/fa"
    Fastq.writeFasta(contigs, dir)
    val lines = spark.read.text(dir).as[String].collect().toSeq
    assert(lines.count(_.startsWith(">")) == 3)
    assert(lines.filterNot(_.startsWith(">")).forall(_.length <= 100))
    val back = Fastq.readFasta(spark, dir)
      .orderBy("seq").select("id", "seq").as[(String, String)].collect().toSeq
    assert(back.map(_._2) == Seq("A" * 250, "C" * 100, "G" * 77))
    assert(back.head._1 == "Contig-1-250") // sorted order: A^250 first
  }

  test("readFasta is split-safe: records spanning forced input splits survive") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val recs = Seq.tabulate(200)(i =>
      (s"rec$i", Array.fill(300)("ACGT"(rnd.nextInt(4))).mkString))
    val dir = tmpDir() + "/bigfa"
    // one physical file, records wrapped at 100 cols
    recs.map { case (id, s) => s">$id\n" + s.grouped(100).mkString("\n") }
      .toDF("value").coalesce(1).write.mode("overwrite").text(dir)
    val hc = spark.sparkContext.hadoopConfiguration
    val key = "mapreduce.input.fileinputformat.split.maxsize"
    val old = Option(hc.get(key))
    hc.set(key, "4096") // ~62KB file -> ~15 splits, most mid-record
    try {
      val back = Fastq.readFasta(spark, dir)
        .as[(String, String)].collect().toMap
      assert(back == recs.toMap)
    } finally old match {
      case Some(v) => hc.set(key, v)
      case None => hc.unset(key)
    }
  }

  test("paired FASTQ pairs mates positionally and interleaves") {
    import spark.implicits._
    val m1 = Seq.tabulate(30)(i => "ACGT" * 6 + "AC" + "GT" * (i % 5))
    val m2 = m1.map(_.reverse.map {
      case 'A' => 'T'; case 'C' => 'G'; case 'G' => 'C'; case 'T' => 'A'
    })
    val dir = tmpDir()
    Fastq.toFastqLines(m1.toDF("read")).coalesce(1).write.mode("overwrite").text(s"$dir/p1")
    Fastq.toFastqLines(m2.toDF("read")).coalesce(1).write.mode("overwrite").text(s"$dir/p2")
    val pairs = Fastq.readPairedFastq(spark, s"$dir/p1", s"$dir/p2")
      .orderBy("pair_id").select("mate1", "mate2").as[(String, String)].collect().toSeq
    assert(pairs == m1.zip(m2))
    val inter = Fastq.interleavePairs(
      Fastq.readPairedFastq(spark, s"$dir/p1", s"$dir/p2"))
      .collect().toSeq.sorted
    assert(inter == (m1 ++ m2).sorted)
  }

  test("StageRunner resumes completed stages and recomputes missing ones") {
    import spark.implicits._
    val root = tmpDir() + "/stages"
    val runner = new StageRunner(spark, root)
    var evals = 0
    def body() = { evals += 1; Seq((1, "a"), (2, "b")).toDF("k", "v") }
    val first = runner.stage("s1")(body())
    assert(first.count() == 2 && evals == 1)
    val second = runner.stage("s1")(body())
    assert(second.count() == 2 && evals == 1) // resumed, not recomputed
    runner.clean("s1")
    assert(!runner.isComplete("s1"))
    runner.stage("s1")(body())
    assert(evals == 2)
  }

  test("mergePairs reconstructs fragments, passes non-overlapping and short pairs through") {
    import spark.implicits._
    val frag = "ACGGTCAATGCCAGTTAACGGATCCTAGGCATAAGCTTGG" // 40 bp, aperiodic
    def rc(s: String) = s.reverse.map { case 'A' => 'T'; case 'C' => 'G'; case 'G' => 'C'; case 'T' => 'A' }
    val pairs = Seq(
      // true 12-base overlap: mate1 = frag[0..25], mate2 = rc(frag[14..39])
      ("ok", frag.substring(0, 26), rc(frag.substring(14, 40))),
      // unrelated mates: no overlap >= minOverlap
      ("none", "ACGTTGCAACGTTGCAACGTTGCA", "GGATCCGGATCCGGATCCGGATCC"),
      // reads shorter than minOverlap: must not crash (descending-sequence guard)
      ("short", "ACGT", "AC")
    ).toDF("tag", "mate1", "mate2")
    val out = Fastq.mergePairs(pairs, minOverlap = 10)
      .select("tag", "best_ov", "merged")
      .collect().map(r => r.getString(0) -> (Option(r.get(1)), Option(r.get(2)))).toMap
    assert(out("ok") == (Some(12), Some(frag)))
    assert(out("none") == (None, None))
    assert(out("short") == (None, None))
  }
}
