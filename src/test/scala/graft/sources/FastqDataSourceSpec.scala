package graft.sources

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import graft.TestSpark

/** The `format("fastq")` DataSourceV2 connector: split-boundary sync on
  * adversarial records (quality lines beginning with '@'), the
  * exactly-once ownership contract on any split grid (including splits
  * landing exactly on record starts), column pruning pushed into the
  * reader, and compressed whole-file members. */
class FastqDataSourceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  // fixed-width adversarial corpus: every quality line starts with '@'
  // (the classic FASTQ sync trap) and records are 100 bytes each so split
  // grids can be aimed at exact record starts
  private def record(i: Int): String = {
    val id = f"read_$i%05d" + "x" * 13 // header line: 1+22 = 23 bytes
    val seq = ("ACGT" * 10) + "ACGTACGTACGTA" // non-4-divisible width, 53
    val qual = "@" + "I" * 20 // quality line starting with '@', 21
    s"@$id\n$seq\n+\n$qual\n" // 24+54+2+22 = 102 bytes/record
  }

  private def writeCorpus(n: Int): String = {
    val dir = Files.createTempDirectory("graft_dsv2").toString
    Files.writeString(Paths.get(dir, "reads.fastq"),
      (0 until n).map(record).mkString)
    dir
  }

  test("multi-split read is exactly-once on '@'-leading quality lines") {
    val dir = writeCorpus(200)
    for (split <- Seq(64, 102, 204, 1000, 1 << 20)) {
      val df = spark.read.format("fastq")
        .option("maxSplitBytes", split).load(dir)
      val rows = df.collect()
      assert(rows.length == 200, s"split=$split")
      val ids = rows.map(_.getAs[String]("id")).sorted
      assert(ids.toSeq == (0 until 200).map(i => f"read_$i%05d" + "x" * 13),
        s"split=$split lost or duplicated records")
      assert(rows.forall(_.getAs[String]("qual").startsWith("@")))
      assert(rows.forall(_.getAs[String]("seq").length == 53))
    }
  }

  test("split grid aimed exactly at record starts stays exactly-once") {
    val dir = writeCorpus(50)
    // records are 102 bytes: a 102-byte grid puts EVERY boundary on a
    // header's first byte — the ownership edge case
    val df = spark.read.format("fastq").option("maxSplitBytes", 102).load(dir)
    assert(df.count() == 50)
    assert(df.select("id").distinct().count() == 50)
  }

  test("column pruning reaches the reader (seq-only scan)") {
    val dir = writeCorpus(10)
    val df = spark.read.format("fastq").load(dir).select("seq")
    val scans = df.queryExecution.optimizedPlan.collect {
      case r: DataSourceV2ScanRelation => r.scan.readSchema()
    }
    assert(scans.nonEmpty)
    assert(scans.head.fieldNames.toSeq == Seq("seq"),
      s"expected seq-only read schema, got ${scans.head.fieldNames.toSeq}")
    assert(df.count() == 10)
  }

  test("gzip member reads as one unsplit partition with identical records") {
    val dir = writeCorpus(30)
    val plain = Paths.get(dir, "reads.fastq")
    val gz = Paths.get(dir, "reads2.fastq.gz")
    val out = new java.util.zip.GZIPOutputStream(Files.newOutputStream(gz))
    out.write(Files.readAllBytes(plain)); out.close()
    Files.delete(plain)
    val df = spark.read.format("fastq")
      .option("maxSplitBytes", 64).load(dir) // tiny split must be ignored
    assert(df.rdd.getNumPartitions == 1)
    assert(df.count() == 30)
  }

  test("truncated trailing record is dropped, prior records kept") {
    val dir = writeCorpus(5)
    val p = Paths.get(dir, "reads.fastq")
    Files.writeString(p, Files.readString(p) + "@orphan\nACGT\n+\n") // no qual
    val df = spark.read.format("fastq").load(dir)
    assert(df.count() == 5)
  }

  test("a batch path that names no file fails the read, as the text source does") {
    val missing = Paths.get(writeCorpus(1), "absent", "*.fq").toString
    val e = intercept[java.io.FileNotFoundException] {
      spark.read.format("fastq").load(missing).count()
    }
    assert(e.getMessage.contains(missing))
  }

  test("fuzz: random record widths x random split grids stay exactly-once") {
    // variable-length records (the realistic shape — reads are NOT fixed
    // width) under ten random split sizes, including ones smaller than a
    // record and ones straddling every boundary class; truth is the
    // byte-content itself
    val rnd = new scala.util.Random(8081L)
    val dir = Files.createTempDirectory("graft_dsv2_fuzz").toString
    val recs = (0 until 300).map { i =>
      val seq = Seq.fill(20 + rnd.nextInt(90))("ACGT" (rnd.nextInt(4))).mkString
      val qual = (if (rnd.nextBoolean()) "@" else "I") + "I" * (seq.length - 1)
      (f"r$i%04d", seq, qual)
    }
    Files.writeString(Paths.get(dir, "reads.fastq"),
      recs.map { case (id, s, q) => s"@$id\n$s\n+\n$q\n" }.mkString)
    val expect = recs.map { case (id, s, _) => (id, s) }.sorted
    for (_ <- 0 until 10) {
      val split = 40 + rnd.nextInt(4000)
      val got = spark.read.format("fastq").option("maxSplitBytes", split)
        .load(dir).collect()
        .map(r => (r.getAs[String]("id"), r.getAs[String]("seq"))).sorted.toSeq
      assert(got == expect, s"split=$split lost/duplicated/corrupted records")
    }
  }

  test("continuous tailing: a late shard is admitted, committed indices stable") {
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    // drive the stream object directly (a ProcessingTime trigger would
    // need wall-clock waits): two shards at start, a third lands between
    // admission-control calls — the un-pinned stream must GROW its
    // snapshot to admit it, and the already-planned range must be stable
    val dir = Files.createTempDirectory("graft_dsv2_tail").toString
    def shard(n: Int): Unit = {
      Files.writeString(Paths.get(dir, f"s$n%02d.fastq"), record(n)); ()
    }
    shard(0); shard(1)
    val opts = new CaseInsensitiveStringMap(
      java.util.Map.of("path", dir, "maxFilesPerTrigger", "1"))
    val stream = new FastqMicroBatchStream(opts, FastqDataSource.schema)
    val o1 = stream.latestOffset(stream.initialOffset(), ReadLimit.maxFiles(1))
    assert(o1.asInstanceOf[FastqStreamOffset].filesConsumed == 1L)
    shard(2) // lands mid-stream, named after the committed ones
    val o2 = stream.latestOffset(o1, ReadLimit.maxFiles(5))
    assert(o2.asInstanceOf[FastqStreamOffset].filesConsumed == 3L,
      "late shard was not admitted by the refreshed listing")
    val parts = stream.planInputPartitions(stream.initialOffset(), o2)
    assert(parts.length == 3)
    assert(parts.map(_.asInstanceOf[FastqInputPartition].path).toSeq ==
      Seq("s00", "s01", "s02").map(n => s"file:$dir/$n.fastq"))
  }

  test("streaming path: one microbatch per shard, batch-identical records") {
    import org.apache.spark.sql.streaming.Trigger
    val dir = Files.createTempDirectory("graft_dsv2_stream").toString
    for (shard <- 0 until 3)
      Files.writeString(Paths.get(dir, f"shard_$shard%02d.fastq"),
        (shard * 20 until shard * 20 + 20).map(record).mkString)
    val q = spark.readStream.format("fastq")
      .option("maxFilesPerTrigger", "1").load(dir)
      .writeStream.format("memory").queryName("fastq_stream_mem")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    // admission control honoured: 3 shards -> 3 non-empty microbatches
    val batches = q.recentProgress.filter(_.numInputRows > 0)
    assert(batches.length == 3,
      s"expected 3 microbatches, saw ${batches.map(_.numInputRows).mkString(",")}")
    assert(batches.forall(_.numInputRows == 20))
    val streamed = spark.table("fastq_stream_mem")
      .collect().map(r => (r.getAs[String]("id"), r.getAs[String]("seq"))).sorted
    val batch = spark.read.format("fastq").load(dir)
      .collect().map(r => (r.getAs[String]("id"), r.getAs[String]("seq"))).sorted
    assert(streamed.toSeq == batch.toSeq)
  }

  test("V2 predicate pushdown: seq-length + id-range filters run IN the reader") {
    import org.apache.spark.sql.functions._
    // variable-length sequences so CHAR_LENGTH actually discriminates
    val dir = Files.createTempDirectory("graft_dsv2_push").toString
    val body = (0 until 120).map { i =>
      val seq = "ACGT" * (5 + i % 12) // lengths 20..64
      val qual = "I" * seq.length
      f"@r$i%05d\n$seq%s\n+\n$qual%s\n"
    }.mkString
    Files.writeString(Paths.get(dir, "reads.fastq"), body)
    val df = spark.read.format("fastq").option("maxSplitBytes", 512).load(dir)
    val filtered = df.filter(length(col("seq")) >= 40 &&
      col("id") >= "r00010" && col("id") < "r00100")
    val exp = df.collect()
      .map(r => (r.getAs[String]("id"), r.getAs[String]("seq")))
      .filter { case (id, seq) =>
        seq.length >= 40 && id >= "r00010" && id < "r00100" }
      .sorted.toSeq
    val got = filtered.collect()
      .map(r => (r.getAs[String]("id"), r.getAs[String]("seq"))).sorted.toSeq
    assert(got == exp)
    assert(got.nonEmpty && got.size < 120)
    // the pushdown is visible in the plan — including the translated
    // CHAR_LENGTH predicate the V1 Filter API could never carry
    import org.apache.spark.sql.execution.ExplainMode
    val plan = filtered.queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    assert(plan.contains("PushedFilters"), plan.take(3000))
    assert(plan.contains("CHAR_LENGTH"), plan.take(3000))
    // and it really ran IN the source: the scan's numOutputRows equals the
    // FILTERED count (a post-scan filter would show all 120), and Spark
    // planned no residual Filter node because the reader claimed the
    // whole conjunction
    val scan = filtered.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.head
    assert(scan.metrics("numOutputRows").value == got.size.toLong,
      s"scan emitted ${scan.metrics("numOutputRows").value} rows, want ${got.size}")
    assert(!filtered.queryExecution.executedPlan.toString.contains("Filter ("),
      "residual Filter node survived a fully-claimed pushdown")
  }

  test("pushdown composes with multi-split exactly-once sync (fuzz grids)") {
    import org.apache.spark.sql.functions._
    val dir = writeCorpus(200)
    for (split <- Seq(64, 102, 333, 1 << 20)) {
      val df = spark.read.format("fastq")
        .option("maxSplitBytes", split).load(dir)
        .filter(col("id") >= f"read_${50}%05d" && col("id") < f"read_${150}%05d")
      assert(df.count() == 100, s"split=$split")
    }
  }
}
