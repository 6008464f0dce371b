package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.sources.Fastq
import graft.streaming.{EventStreams, ReplayRunner}

/** End-to-end IO round-trips, oracle-checked: the FASTQ fabricate -> write
  * -> read -> parse -> count path (P12+P1+P14+A1) and the FASTA
  * sink -> source path (P11+S6+S4). Files land under the repo's target dir
  * (deterministic per scale factor, overwritten each run).
  */
object GenomicsIO extends QueryFamily {
  private def ioDir(d: String) =
    graft.Scratch.dir(d)

  /** es12/es19: the k-mer state-store count over a dir of FASTQ shards,
    * one shard per micro-batch, in batch g1's shape. */
  private def streamedKmerCounts(s: SparkSession, dir: String, name: String): DataFrame = {
    import s.implicits._
    val reads = ReplayRunner.fastq(s, dir).select(col("seq")).as[String]
    Genomics.decodeCounts(ReplayRunner.memory(
      EventStreams.kmerCountStream(Fastq.guardReads(reads, minLen = 15), 15),
      name, "complete"), 15)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // -- P12 -> P1 -> P14 -> A1: counts must equal the direct path ---------
    // `Fastq.fastqSequences` is the CLI's `-fastq` read: whole records
    // through the `fastq` source at its default split size
    "f1_fastq_roundtrip" -> ((s, d) => {
      val tmp = s"${ioDir(d)}/fastq"
      val seqs = documents(s, d).select(Genomics.dna32(col("doc_id")).as("read"))
      Fastq.toFastqLines(seqs).coalesce(1).write.mode("overwrite").text(tmp)
      val reads = Fastq.guardReads(Fastq.fastqSequences(s, tmp), minLen = 15)
      Genomics.decodeCounts(Genomics.countCanonical(reads, 15), 15)
    }),

    // -- f11: the DataSourceV2 FASTQ source, multi-split -------------------
    // same counts as f1, but the read path is the native `format("fastq")`
    // connector forced through MANY byte-range splits of one file
    // (maxSplitBytes = 64 KiB): record-boundary sync and the
    // one-owner-per-record split contract are exercised on every split
    // edge, and column pruning pushes the seq-only projection into the
    // reader (header/quality bytes never materialize)
    "f11_fastq_dsv2" -> ((s, d) => {
      import s.implicits._
      val tmp = s"${ioDir(d)}/fastq_dsv2"
      val seqs = documents(s, d).select(Genomics.dna32(col("doc_id")).as("read"))
      Fastq.toFastqLines(seqs).coalesce(1).write.mode("overwrite").text(tmp)
      val reads = s.read.format("fastq").option("maxSplitBytes", 65536)
        .load(tmp).select(col("seq")).as[String]
      Genomics.decodeCounts(
        Genomics.countCanonical(Fastq.guardReads(reads, minLen = 15), 15), 15)
    }),

    // -- f21: the SPLITTABLE block-LZ4 container through the gate ----------
    // same counts as f1/f11, but the bytes on disk are one compressed
    // `.gb4z` container ([[graft.sources.BlockLz4]]: record-aligned LZ4
    // blocks + footer offset index) and the read is format("fastq") FORCED
    // through many block-range splits (maxSplitBytes = 8 KiB over ~16 KiB
    // raw blocks → one task per block) — the capability a generic gzip
    // member cannot offer (its shard is one task regardless of size,
    // [[graft.sources.FastqScan]]'s whole-file fallback). The container is
    // written INSIDE one task (single-writer per file, no driver collect);
    // Gb4zSpec additionally proves byte parity with the uncompressed read
    // across a split-size grid and multi-file layouts.
    "f21_blz4_container" -> ((s, d) => {
      import s.implicits._
      val tmp = s"${ioDir(d)}/fastq_blz4"
      val file = s"$tmp/reads.gb4z"
      val seqs = documents(s, d).select(Genomics.dna32(col("doc_id")).as("read"))
      Fastq.toFastqLines(seqs).coalesce(1).foreachPartition {
        (it: Iterator[org.apache.spark.sql.Row]) =>
          graft.sources.BlockLz4.writeFile(
            new org.apache.hadoop.conf.Configuration(), file,
            it.map(_.getString(0)), blockBytes = 16 * 1024)
          ()
      }
      val reads = s.read.format("fastq").option("maxSplitBytes", 8192)
        .load(file).select(col("seq")).as[String]
      Genomics.decodeCounts(
        Genomics.countCanonical(Fastq.guardReads(reads, minLen = 15), 15), 15)
    }),

    // -- f24: the LITERAL `.4mc` input-codec path ---------------------------
    // the reference's default input format, closed at the seam it actually
    // uses: FASTQ text written as a block-LZ4 `.4mc` container (FourMc
    // writer, 4 KiB blocks cut MID-LINE like the real codec) and read back
    // through `Fastq.readLinesWithFormat` with the Hadoop input format
    // class name — the exact call shape of the reference's
    // `newAPIHadoopFile(..., FourMcTextInputFormat, ...)` decompresser
    // (ReflexivDataFrameDecompresser.java:205). Sequence lines recovered
    // by the P2 heuristic filter (the decompresser's own move), k-mer
    // counted, and gated against the SAME g1 oracle — so container write,
    // footer index, block checksums, and line reassembly across block
    // boundaries are all on the hash. FourMcSpec adds the ≥3-way split
    // grid and the straddling-line ownership proof.
    "f24_fourmc_roundtrip" -> ((s, d) => {
      import s.implicits._
      val tmp = s"${ioDir(d)}/fastq_4mc"
      val file = s"$tmp/reads.4mc"
      val seqs = documents(s, d).select(Genomics.dna32(col("doc_id")).as("read"))
      Fastq.toFastqLines(seqs).coalesce(1).foreachPartition {
        (it: Iterator[org.apache.spark.sql.Row]) =>
          graft.sources.FourMc.writeFile(
            new org.apache.hadoop.conf.Configuration(), file,
            it.map(_.getString(0)), blockBytes = 4 * 1024)
          ()
      }
      val lines = Fastq.readLinesWithFormat(
        s, file, "graft.sources.FourMcTextInputFormat")
      val reads = Fastq.filterSequenceLines(lines)
      Genomics.decodeCounts(
        Genomics.countCanonical(Fastq.guardReads(reads, minLen = 15), 15), 15)
    }),

    // -- es12: the DSv2 connector's STREAMING path through the gate --------
    // sequencing-run ingestion: the machine drops FASTQ shards into a
    // directory and the pipeline tails it. Here the same 9000-read corpus
    // lands as 4 shards, tailed one shard per trigger through the
    // `fastq` source ([[ReplayRunner.fastq]]) — 4 real microbatches
    // through the k-mer state-store aggregation — and the Complete-mode
    // fixpoint must hash-match the identical batch g1 oracle. Gates the
    // connector's offset log, per-batch file planning, AND the streaming
    // column-pruning path (only `seq` leaves the reader) at once.
    "es12_stream_fastq_dsv2" -> ((s, d) => {
      val tmp = s"${ioDir(d)}/fastq_stream"
      val seqs = documents(s, d).select(Genomics.dna32(col("doc_id")).as("read"))
      // repartition BEFORE fabrication: each read's 4 lines stay together
      // inside its partition, so every part-file is a whole FASTQ shard
      Fastq.toFastqLines(seqs.repartition(4)).write.mode("overwrite").text(tmp)
      streamedKmerCounts(s, tmp, "es12_fastq_mem")
    }),

    // -- es19: STREAMING ingestion of compressed .gb4z shards --------------
    // es12's directory-tailing shape with the bytes on disk COMPRESSED:
    // four block-indexed LZ4 containers ([[graft.sources.BlockLz4
    // .writeDir]] — one shard per partition, records fabricated after the
    // repartition so none straddles a shard), tailed one shard per
    // trigger through the `fastq` source ([[ReplayRunner.fastq]]). Each
    // whole-file streaming partition resolves its block range from the
    // container footer; 4 real microbatches cross the k-mer state store
    // and the Complete-mode fixpoint must hash-match the same batch g1
    // oracle — the container's batch path is f21, this gates its
    // STREAMING path end to end.
    "es19_stream_blz4" -> ((s, d) => {
      val tmp = s"${ioDir(d)}/fastq_stream_blz4"
      val seqs = documents(s, d).select(Genomics.dna32(col("doc_id")).as("read"))
      graft.sources.BlockLz4.writeDir(
        Fastq.toFastqLines(seqs.repartition(4)), tmp, blockBytes = 16 * 1024)
      streamedKmerCounts(s, tmp, "es19_blz4_mem")
    }),

    // -- es20: STREAMING .gb4z SINK with exactly-once shard commit ---------
    // es19 gates the container's streaming READ; es20 closes the loop on
    // the WRITE side: each microbatch lands as batch-id-keyed compressed
    // shards plus an atomically-renamed per-batch manifest
    // ([[graft.sources.BlockLz4.writeBatch]]) — task retries overwrite
    // their own (batch, partition) name, a replayed batch re-commits the
    // identical manifest, and a batch that dies pre-commit leaves orphans
    // no reader ever lists. The re-ingest goes through the MANIFEST-GATED
    // glob (not a directory scan), so the gate proves commit protocol +
    // container write + splittable read end to end: the k-mer counts over
    // the re-ingested shards must hash-match the same batch g1 oracle.
    // Gb4zSinkSpec adds the kill-restart and orphan-exclusion halves.
    "es20_stream_blz4_sink" -> ((s, d) => {
      import s.implicits._
      val root = s"${ioDir(d)}/blz4_sink"
      graft.Scratch.delete(root)
      val srcDir = s"$root/src"
      val seqs = documents(s, d).select(Genomics.dna32(col("doc_id")).as("read"))
      graft.sources.BlockLz4.writeDir(
        Fastq.toFastqLines(seqs.repartition(4)), srcDir, blockBytes = 16 * 1024)
      val sinkDir = s"$root/out"
      ReplayRunner.commit(ReplayRunner.fastq(s, srcDir)) { (_, b, id) =>
        // records fabricated AFTER the repartition (the sink contract:
        // a 4-line record never straddles shards)
        graft.sources.BlockLz4.writeBatch(
          Fastq.toFastqLines(b.select(col("seq").as("read")).repartition(2)),
          sinkDir, id, blockBytes = 8 * 1024)
      }
      val glob = graft.sources.BlockLz4.committedShardsGlob(
        s.sessionState.newHadoopConf(), sinkDir)
        .getOrElse(sys.error(s"es20: no committed manifests under $sinkDir"))
      val reads = s.read.format("fastq").load(glob).select(col("seq")).as[String]
      Genomics.decodeCounts(
        Genomics.countCanonical(Fastq.guardReads(reads, minLen = 15), 15), 15)
    }),

    // -- columnar interchange: ORC sink -> source round-trip ---------------
    // the "another source format" path: the same documents projection
    // written as ORC (Spark's second first-class columnar format) and read
    // back; column pruning and predicate pushdown work on the ORC scan
    // exactly as on parquet, so intermediate tables can interchange freely
    "f7_orc_roundtrip" -> ((s, d) => {
      val tmp = s"${ioDir(d)}/orc"
      documents(s, d).select(col("doc_id"), col("lang"), col("n_chars"))
        .write.mode("overwrite").orc(tmp)
      s.read.orc(tmp).filter(col("n_chars") > 0)
        .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"))
    }),

    // -- JSONL sink -> source interchange ----------------------------------
    // the third interchange format (line-delimited JSON — the lingua
    // franca of web-scraped training corpora): typed write, schema-given
    // read (schema inference would be a second full scan at 100 TB), same
    // aggregation witness as f7 so any row/field corruption surfaces as a
    // hash mismatch.
    "f8_json_roundtrip" -> ((s, d) => {
      val tmp = s"${ioDir(d)}/jsonl"
      documents(s, d).select(col("doc_id"), col("lang"), col("n_chars"))
        .write.mode("overwrite").json(tmp)
      s.read.schema("doc_id LONG, lang STRING, n_chars LONG").json(tmp)
        .filter(col("n_chars") > 0)
        .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"))
    }),

    // -- f9: hive-partitioned sink -> partition-pruned scan ----------------
    // the lakehouse layout: write documents partitioned by source, read
    // back with a source predicate. The predicate resolves as PARTITION
    // PRUNING (PartitionFilters on the scan, not a row filter): Spark
    // lists only the matching directory — at 100 TB the difference
    // between scanning one source and scanning the lake. ScaleSpec
    // proves the pruning shape; here the pruned result itself passes
    // through the oracle gate.
    "f9_partition_roundtrip" -> ((s, d) => {
      val tmp = s"${ioDir(d)}/part_docs"
      documents(s, d).select(col("doc_id"), col("source"), col("n_chars"))
        .write.mode("overwrite").partitionBy("source").parquet(tmp)
      s.read.parquet(tmp)
        .filter(col("source") === "src7")
        .groupBy("source").agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"))
    }),

    // -- f10: schema drift across parquet batches -> mergeSchema read ------
    // the lake reality at 100 TB: files written over months drift (a
    // later ingestion adds a column). Two batches land with different
    // schemas — old docs without `lang`, new docs with it — and ONE
    // mergeSchema read reconciles them: the union schema, nulls where the
    // old batch lacks the column. The aggregation proves the reconciled
    // frame is queryable as if written uniformly (nulls grouped under a
    // '<none>' bucket, exactly what the oracle states with union_by_name
    // semantics in SQL).
    "f10_schema_drift" -> ((s, d) => {
      val tmp = s"${ioDir(d)}/drift"
      val doc = documents(s, d)
      doc.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("n_chars"))
        .write.mode("overwrite").parquet(s"$tmp/batch=old")
      doc.filter(col("doc_id") % 2 =!= 0)
        .select(col("doc_id"), col("n_chars"), col("lang"))
        .write.mode("overwrite").parquet(s"$tmp/batch=new")
      s.read.option("mergeSchema", "true").parquet(tmp)
        .groupBy(coalesce(col("lang"), lit("<none>")).as("lang"),
          col("batch"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
    }),

    // -- contigs -> FASTA file (wrapped) -> parsed back ---------------------
    "f2_fasta_roundtrip" -> ((s, d) => {
      val tmp = s"${ioDir(d)}/fasta"
      val c = concat(Genomics.dna64(col("doc_id")),
        Genomics.dna32(col("doc_id")), Genomics.dna32(col("doc_id")))
      val contigs = documents(s, d).select(c.as("contig"))
      Fastq.writeFasta(contigs, tmp)
      Fastq.readFasta(s, tmp).select(col("id"), length(col("seq")).as("len"), col("seq"))
    }),

    // -- paired-end: two mate files -> positional pairing -> roundtrip ------
    // mate2 simulates the opposite-strand mate (revcomp of the fragment
    // end); a correct join keeps each mate1 with ITS mate2 — any off-by-one
    // in the pairing produces different rows and a hash mismatch.
    // -- FLASH-style mate overlap merge (in-engine, no external binary) ----
    // each doc is a 64-base fragment; mate1 = bases 1..40, mate2 =
    // revcomp(bases 25..64), so the true overlap is 16 bases. The merge
    // must rediscover it and reconstruct the full fragment. recovered=1
    // asserts merged == fragment (the md5-derived fragments are aperiodic,
    // so no spurious larger overlap exists at these sizes).
    "f6_pair_merge" -> ((s, d) => {
      val frag = Genomics.dna64(col("doc_id"))
      val pairs = documents(s, d).select(
        col("doc_id"), frag.as("frag"),
        substring(frag, 1, 40).as("mate1"),
        reverse(translate(substring(frag, 25, 40), "ACGT", "TGCA")).as("mate2"))
      Fastq.mergePairs(pairs, minOverlap = 10)
        .select(col("doc_id"), col("best_ov"),
          col("merged"),
          when(col("merged") === col("frag"), 1).otherwise(0).as("recovered"))
    }),

    "f5_paired_roundtrip" -> ((s, d) => {
      val tmp = ioDir(d)
      // persist so both mate files are written from the SAME row order (the
      // pairing is positional — the two writes must agree record-for-record)
      val docs = documents(s, d).select(Genomics.dna32(col("doc_id")).as("g")).persist()
      val m1 = docs.select(col("g").as("read"))
      val m2 = docs.select(reverse(translate(col("g"), "ACGT", "TGCA")).as("read"))
      Fastq.toFastqLines(m1).coalesce(1).write.mode("overwrite").text(s"$tmp/pair1")
      Fastq.toFastqLines(m2).coalesce(1).write.mode("overwrite").text(s"$tmp/pair2")
      docs.unpersist()
      Fastq.readPairedFastq(s, s"$tmp/pair1", s"$tmp/pair2")
        .select("mate1", "mate2")
    })
  )

  def oracles: Map[String, String] = Map(
    "f1_fastq_roundtrip" -> Genomics.oracles("g1_kmer_count"),
    // the DSv2 multi-split read must land the identical k-mer table
    "f11_fastq_dsv2" -> Genomics.oracles("g1_kmer_count"),
    "f21_blz4_container" -> Genomics.oracles("g1_kmer_count"),
    // the literal `.4mc` codec path must land on the identical k-mer table
    "f24_fourmc_roundtrip" -> Genomics.oracles("g1_kmer_count"),
    "es19_stream_blz4" -> Genomics.oracles("g1_kmer_count"),
    // the streaming WRITE side: manifest-gated re-ingest of the per-batch
    // compressed shards must reproduce the identical k-mer table
    "es20_stream_blz4_sink" -> Genomics.oracles("g1_kmer_count"),
    // ...and so must its streaming path's Complete-mode fixpoint
    "es12_stream_fastq_dsv2" -> Genomics.oracles("g1_kmer_count"),
    "f7_orc_roundtrip" ->
      """SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
        |FROM documents WHERE n_chars > 0 GROUP BY lang""".stripMargin,
    "f8_json_roundtrip" ->
      """SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
        |FROM documents WHERE n_chars > 0 GROUP BY lang""".stripMargin,
    "f9_partition_roundtrip" ->
      """SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
        |FROM documents WHERE source = 'src7' GROUP BY source""".stripMargin,
    "f10_schema_drift" ->
      """WITH drift AS (
        |  SELECT doc_id, n_chars, NULL AS lang, 'old' AS batch
        |  FROM documents WHERE doc_id % 2 = 0
        |  UNION ALL
        |  SELECT doc_id, n_chars, lang, 'new' AS batch
        |  FROM documents WHERE doc_id % 2 <> 0)
        |SELECT coalesce(lang, '<none>') AS lang, batch,
        |  COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
        |FROM drift GROUP BY 1, 2""".stripMargin,
    "f2_fasta_roundtrip" ->
      """WITH c AS (
        |  SELECT translate(md5(CAST(doc_id AS VARCHAR)), '0123456789abcdef', 'ACGTACGTACGTACGT')
        |      || translate(md5(CAST(doc_id AS VARCHAR) || 'x'), '0123456789abcdef', 'ACGTACGTACGTACGT')
        |      || repeat(translate(md5(CAST(doc_id AS VARCHAR)), '0123456789abcdef', 'ACGTACGTACGTACGT'), 2)
        |      AS contig
        |  FROM documents)
        |SELECT 'Contig-' || rn || '-' || length(contig) AS id,
        |       length(contig) AS len, contig AS seq
        |FROM (SELECT contig, ROW_NUMBER() OVER (ORDER BY contig) AS rn FROM c)""".stripMargin,
    "f6_pair_merge" ->
      """WITH f AS (SELECT doc_id,
        |  translate(md5(CAST(doc_id AS VARCHAR)), '0123456789abcdef', 'ACGTACGTACGTACGT')
        |    || translate(md5(CAST(doc_id AS VARCHAR) || 'x'), '0123456789abcdef', 'ACGTACGTACGTACGT') AS frag
        |  FROM documents),
        |p AS (SELECT doc_id, frag, substring(frag, 1, 40) AS mate1,
        |  reverse(translate(reverse(translate(substring(frag, 25, 40), 'ACGT', 'TGCA')), 'ACGT', 'TGCA')) AS rc2
        |  FROM f),
        |b AS (SELECT doc_id, frag, mate1, rc2,
        |  list_max(list_filter(generate_series(10, least(length(mate1), length(rc2))),
        |    o -> substring(mate1, length(mate1) - o + 1, CAST(o AS INT)) = substring(rc2, 1, CAST(o AS INT)))) AS best_ov
        |  FROM p)
        |SELECT doc_id, best_ov,
        |  CASE WHEN best_ov IS NOT NULL
        |       THEN mate1 || substring(rc2, CAST(best_ov AS INT) + 1, length(rc2) - CAST(best_ov AS INT)) END AS merged,
        |  CASE WHEN mate1 || substring(rc2, CAST(best_ov AS INT) + 1, length(rc2) - CAST(best_ov AS INT)) = frag
        |       THEN 1 ELSE 0 END AS recovered
        |FROM b""".stripMargin,
    "f5_paired_roundtrip" ->
      """SELECT translate(md5(CAST(doc_id AS VARCHAR)), '0123456789abcdef', 'ACGTACGTACGTACGT') AS mate1,
        |       reverse(translate(translate(md5(CAST(doc_id AS VARCHAR)), '0123456789abcdef', 'ACGTACGTACGTACGT'), 'ACGT', 'TGCA')) AS mate2
        |FROM documents""".stripMargin
  )
}
