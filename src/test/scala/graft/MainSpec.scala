package graft

import java.nio.file.{Files, Path}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Dna._
import graft.operators.Genomics
import graft.sources.{BlockLz4, Fastq}

/** The CLI's k-mer table round trip at both key widths: `counter` writes
  * `(kmer, count)` rows at any k, and `run -kmerc` assembles from them what
  * `run` assembles from the reads; `-fastq` counts whole FASTQ records,
  * plain or packed. */
class MainSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Reads of a genome with a planted repeat, plus a recurrent substitution
    * (a fork that passes `-cover 2`), as a FASTQ file. */
  private lazy val fastq: Path = {
    val rep = randGenome(60, seed = 5)
    val g = randGenome(300, seed = 1) + rep + randGenome(300, seed = 2) + rep + randGenome(300, seed = 3)
    val err = g.substring(100, 180).updated(40, if (g(140) == 'A') 'C' else 'A')
    val rds = reads(g, 80, 7) ++ Seq(err, rcStr(err))
    val dir = Files.createTempDirectory("graft_main")
    Files.write(dir.resolve("reads.fq"), rds.zipWithIndex
      .map { case (r, i) => s"@r$i\n$r\n+\n${"I" * r.length}\n" }.mkString.getBytes)
    dir.resolve("reads.fq")
  }

  private def run(args: String*): Unit = Main.run(spark, args.toArray)
  private def tmp(): String = Files.createTempDirectory("graft_main_out").toString
  private def contigs(out: String): Set[String] = {
    import spark.implicits._
    Fastq.readFasta(spark, s"$out/Assembly").select("seq").as[String].collect().toSet
  }
  private def csvRows(dir: String): Set[(String, Long)] = {
    import spark.implicits._
    spark.read.schema("kmer STRING, count BIGINT").csv(dir).as[(String, Long)].collect().toSet
  }
  private def messages(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(String.valueOf(_)).mkString("\n")

  test("counter -kmer 41 writes the string-domain canonical counts") {
    val k = 41
    val out = tmp()
    run("counter", "-fastq", fastq.toString, "-kmer", k.toString, "-cover", "2", "-outfile", out)
    val rds = new String(Files.readAllBytes(fastq)).split("\n").grouped(4).map(_(1)).toSeq
    val want = rds.flatMap(r => r.sliding(k).map(canonStr)).groupBy(identity)
      .map { case (km, occ) => (km, occ.size.toLong) }.filter(_._2 >= 2).toSet
    assert(want.nonEmpty)
    assert(csvRows(s"$out/Count_$k") == want)
  }

  /** The spec's reads as FASTQ whose quality lines are MiSeq-style runs of
    * `C` and `G` — every one of them shaped like a read. */
  private lazy val cgQualLines: Seq[String] =
    new String(Files.readAllBytes(fastq)).split("\n").grouped(4).toSeq.flatMap { rec =>
      Seq(rec(0), rec(1), "+", (("C" * 5 + "G" * 5) * (rec(1).length / 10 + 1)).take(rec(1).length))
    }

  test("counter counts only the sequences of reads whose quality lines look like reads") {
    val k = 31
    val dir = Files.createTempDirectory("graft_main_cg")
    Files.write(dir.resolve("reads.fq"), cgQualLines.map(_ + "\n").mkString.getBytes)
    val out = tmp()
    run("counter", "-fastq", dir.resolve("reads.fq").toString, "-kmer", k.toString, "-outfile", out)
    val rds = cgQualLines.grouped(4).map(_(1)).toSeq
    val want = rds.flatMap(r => r.sliding(k).map(canonStr)).groupBy(identity)
      .map { case (km, occ) => (km, occ.size.toLong) }.filter(_._2 >= 2).toSet
    assert(want.nonEmpty)
    assert(csvRows(s"$out/Count_$k") == want)
  }

  test("counter over one .gb4z container equals the plain-text count") {
    val k = 31
    val dir = Files.createTempDirectory("graft_main_gb4z")
    Files.write(dir.resolve("reads.fq"), cgQualLines.map(_ + "\n").mkString.getBytes)
    val packed = dir.resolve("reads" + BlockLz4.Extension).toString
    BlockLz4.writeFile(spark.sparkContext.hadoopConfiguration, packed,
      cgQualLines.iterator, blockBytes = 4096)
    val (plain, viaGb4z) = (tmp(), tmp())
    run("counter", "-fastq", dir.resolve("reads.fq").toString, "-kmer", k.toString, "-outfile", plain)
    run("counter", "-fastq", packed, "-kmer", k.toString, "-outfile", viaGb4z)
    assert(csvRows(s"$plain/Count_$k").nonEmpty)
    assert(csvRows(s"$viaGb4z/Count_$k") == csvRows(s"$plain/Count_$k"))
  }

  test("counter then run -kmerc gives run's contigs, rows in either orientation (k = 31, 41)") {
    for (k <- Seq(31, 41)) {
      val (counted, fromReads, fromCsv, fromRc) = (tmp(), tmp(), tmp(), tmp())
      run("counter", "-fastq", fastq.toString, "-kmer", k.toString, "-outfile", counted)
      run("run", "-fastq", fastq.toString, "-kmer", k.toString, "-mincontig", "0", "-outfile", fromReads)
      run("run", "-kmerc", s"$counted/Count_$k", "-kmer", k.toString, "-mincontig", "0", "-outfile", fromCsv)
      val want = contigs(fromReads)
      assert(want.exists(_.length > 300), s"k=$k: $want")
      assert(contigs(fromCsv) == want, s"k=$k")
      // the same table with every k-mer written reverse-complemented
      import spark.implicits._
      spark.createDataset(csvRows(s"$counted/Count_$k").toSeq.map { case (km, c) => (rcStr(km), c) })
        .toDF("kmer", "count").write.csv(s"$fromRc/rc")
      run("run", "-kmerc", s"$fromRc/rc", "-kmer", k.toString, "-mincontig", "0", "-outfile", fromRc)
      assert(contigs(fromRc) == want, s"k=$k reverse-complemented rows")
    }
  }

  test("a -kmerc row that is not k ACGT bases fails the run, naming the row (k = 31, 41)") {
    import spark.implicits._
    for (k <- Seq(31, 41)) {
      val good = randGenome(k, seed = k.toLong)
      // either orientation keys as the counter does
      val keys = Seq(good, rcStr(good)).toDF("kmer").select(Genomics.kmerKey(col("kmer"), k).as("kv"))
        .union(Genomics.countCanonical(Seq(good).toDS(), k).select("kv")).distinct()
      assert(keys.count() == 1, s"k=$k")
      for (bad <- Seq(good.dropRight(1), good.updated(k / 2, 'N'), good + "A")) {
        val dir = tmp()
        Seq((good, 3L), (bad, 3L)).toDF("kmer", "count").write.csv(s"$dir/csv")
        val e = intercept[Exception](
          run("run", "-kmerc", s"$dir/csv", "-kmer", k.toString, "-mincontig", "0", "-outfile", dir))
        assert(messages(e).contains(s"'$bad'"), s"k=$k: ${messages(e)}")
      }
    }
  }
}
