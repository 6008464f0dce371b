package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.documents
import graft.core.KmerIter
import graft.sources.StageRunner

/** Driver-orchestrated multi-stage pipelines (SURVEY §3.3): the dynamic-k
  * ("meta") assembly strategy as a resumable staged run, with every stage
  * materialized to Parquet and `_SUCCESS`-resumed by [[StageRunner]]
  * (the reference's `Pipelines.java:613-829` checkpoint protocol, minus
  * the gzip-CSV interchange). Iterating k upward lets small k bridge
  * low-coverage regions and large k resolve repeats, with earlier
  * contigs acting as long pseudo-reads for later rounds.
  *
  * Scale design (the reference's `reduce` interchange,
  * `Pipelines.java:1315-1740` / `ReflexivDSDynamicKmerRuduction.java:199-230`,
  * re-thought Spark-first):
  *  - **One scan of the read set for the whole k-ladder.** `count_multik`
  *    emits (k, kmer) for every k in one flatMap over the reads and counts
  *    them in one hash aggregation — vs. re-reading the full (100 TB-scale)
  *    read set once per k. The shuffle carries the same total volume the
  *    per-k counts would, but the input scan happens once.
  *  - **Reduced per-k interchange.** Round k's assembly input
  *    (`count_k<k>_reduced`) = the read-derived k-counts plus ONLY the
  *    novel bridging k-mers contributed by the previous round's contigs
  *    (an anti-join — J4 semantics). Contigs are tiny next to the reads,
  *    so the per-round work after the first scan is proportional to the
  *    assembly, not the corpus.
  *  - The interchange is the assembler's word key (`array<bigint>`,
  *    `wordsFor(k)` longs) at every k, so one column holds the whole ladder
  *    and it can cross 31 (the reference's k=95 regime); each rung hands its
  *    counts to `Assembler.assemble` as they are.
  */
object Pipelines extends QueryFamily {

  /** Staged dynamic-k assembly with `_SUCCESS` resume. Returns contigs of
    * the final round. Stages: `count_multik`, then `count_k<k>_reduced`
    * and `contigs_k<k>` per k. `minCov` applies to read-derived counts;
    * contig-derived bridging k-mers are trusted (they were assembled from
    * covered k-mers in an earlier round). */
  def dynamicAssembly(spark: SparkSession, reads: Dataset[String],
                      kList: Seq[Int], workDir: String,
                      minCov: Int = 1, minContig: Int = 0,
                      minError: Int = 0): Dataset[String] = {
    import spark.implicits._
    val runner = new StageRunner(spark, workDir)
    val ks = kList.sorted
    val multik = runner.stage("count_multik") {
      val kArr = ks.toArray
      reads.flatMap { r =>
        kArr.iterator.flatMap(k => KmerIter.canonicalWords(r, k).map(kv => (k, kv)))
      }.toDF("k", "kv").groupBy("k", "kv").count()
    }
    var contigs: Dataset[String] = spark.emptyDataset[String]
    ks.foreach { k =>
      val reduced = runner.stage(s"count_k${k}_reduced") {
        val fromReads = multik.filter(col("k") === k)
          .select("kv", "count").filter(col("count") >= minCov)
        // bridge k-mers carry the same trust boost reassemble() uses: the
        // previous round's contigs already passed their coverage gate, so
        // at a fork between a contig path and a recurrent read error the
        // fork filter must keep the contig path (at large k the raw
        // bridge occurrence is 1 and would otherwise lose the fork).
        val bridge = contigs.flatMap(c => KmerIter.canonicalWords(c, k))
          .toDF("kv").groupBy("kv").count()
          .select(col("kv"), (col("count") + lit(1L << 40)).as("count"))
          .join(fromReads.select("kv"), Seq("kv"), "left_anti")
        fromReads.unionAll(bridge)
      }
      // the in-round contraction checkpoints durably under the work dir
      // (restart-resume mid-assembly); the scratch is dropped once the
      // round's contigs stage has landed
      val ckpt = Some(s"$workDir/assemble_k$k")
      contigs = runner.stage(s"contigs_k$k") {
        Assembler.assemble(reduced, k, ckptDir = ckpt, minError = minError).toDF("contig")
      }.select(col("contig")).as[String]
      runner.clean(s"assemble_k$k")
    }
    contigs.filter((c: String) => c.length >= minContig)
  }

  /** Reassembler (the reference's `ReflexivDSReAssembler.java:112,350`
    * semantics, Spark-first): EXTEND existing contigs / gene fragments with
    * new reads instead of assembling from scratch. The contigs' k-mers are
    * trusted seeds (they survived a previous assembly's coverage gate);
    * read k-mers pass the `minCov` gate and contribute only novel bridging
    * k-mers via the same anti-join interchange `dynamicAssembly` uses — so
    * the work is proportional to reads + contigs, with no recount of
    * anything already assembled. */
  def reassemble(spark: SparkSession, contigs: Dataset[String],
                 reads: Dataset[String], k: Int, minCov: Int = 1,
                 minContig: Int = 0, ckptDir: Option[String] = None,
                 minError: Int = 0): Dataset[String] = {
    // Trust boost: seed k-mers carry a count far above any physical read
    // coverage, so at a fork between the existing contig path and a novel
    // read-derived k-mer (e.g. a recurrent sequencing error with coverage
    // >= minCov) the fork filter always keeps the contig path — reads can
    // only EXTEND contigs, never shatter them mid-body.
    val trust = 1L << 40
    val seed = Genomics.countCanonical(contigs, k)
      .select(col("kv"), (col("count") + lit(trust)).as("count"))
    val novel = Genomics.countCanonical(reads, k)
      .filter(col("count") >= minCov)
      .join(seed.select("kv"), Seq("kv"), "left_anti")
    Assembler.assemble(seed.unionAll(novel), k, ckptDir = ckptDir, minError = minError)
      .filter((c: String) => c.length >= minContig)
  }

  /** a3: per-document reassembly — a TRUNCATED contig (bases 1-40 of the
    * 64-base genome) plus tail-only reads (windows from base 21 on, so the
    * reads alone cannot reach the head) must reconstruct the full genome
    * by extension. Oracle-checkable like a1: collision-free per-document
    * DNA makes the fixpoint exactly `least(s, rc(s))`. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "a3_reassemble" -> ((s, d) => {
      import s.implicits._
      val dna = documents(s, d).select(Genomics.dna64(col("doc_id")).as("g"))
      val contigs = dna.select(substring(col("g"), 1, 40).as("c")).as[String]
      val reads = dna
        .select(explode(expr("transform(sequence(21, 33, 4), i -> substring(g, i, 32))")).as("read"))
        .as[String]
      reassemble(s, contigs, reads, 21).toDF("contig")
    })
  )

  def oracles: Map[String, String] = Map(
    "a3_reassemble" -> Assembler.oracles("a1_assembly")
  )
}
