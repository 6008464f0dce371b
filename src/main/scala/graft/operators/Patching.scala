package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Read-based patching and stitching (SURVEY J7/J13).
  *
  * j7: the reference's RAC/CC-pair construction
  * (`ReflexivDSDynamicKmerPatching.java:218-365`) as an inverted-index
  * join: contig-end marker k-mers ⋈ read k-mers gives read↔contig (RAC)
  * pairs; a self-join on the read gives contig↔contig (CC) candidates.
  * No sorted-adjacency scan — the k-mer IS the join key.
  *
  * j13: stitching — a strict assembly (minCov=2) leaves per-document
  * fragments; rescuing coverage-1 "stitch" k-mers and re-assembling
  * bridges them (`ReflexivDSStitching.java:154-211` semantics). The
  * emitted rows are stitched contigs that span >= 2 strict fragments.
  */
object Patching extends QueryFamily {
  private val sqlDna32 =
    "translate(md5(CAST(doc_id AS VARCHAR)), '0123456789abcdef', 'ACGTACGTACGTACGT')"
  private val sqlDna64 = sqlDna32 +
    " || translate(md5(CAST(doc_id AS VARCHAR) || 'x'), '0123456789abcdef', 'ACGTACGTACGTACGT')"
  private def sqlCanon(e: String) =
    s"least($e, reverse(translate($e, 'ACGT', 'TGCA')))"

  /** J13 generic form (`ReflexivDSStitching.java:154-211` semantics): a
    * strict assembly (minCov = `strictCov`) leaves fragments wherever
    * coverage dips; rescuing the coverage-1 "stitch" k-mers and
    * re-assembling bridges them. Emits the stitched contigs that span
    * >= 2 strict fragments — the rows a stitching pass actually adds.
    * Candidate (contig, fragment) pairs come from an equi-join on the
    * fragment's head k-mer, never a contig × fragment cartesian. */
  def stitchReads(reads: Dataset[String], k: Int, strictCov: Int = 2): DataFrame = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val s = reads.sparkSession
    graft.functions.GraftFunctions.register(s)
    // one materialization feeds both assembly passes (localCheckpoint is
    // eager, so the shared count table exists before the passes fork)
    val counts = Genomics.countCanonical(reads, k).localCheckpoint()
    // the two assemblies are independent driver loops over the same
    // materialized input — run them CONCURRENTLY so their (individually
    // small) stages interleave on the cluster instead of serializing
    val strictF = Future {
      Assembler.assemble(counts, k, minCov = strictCov, maxIter = 120)
        .toDF("frag")
        .withColumn("fkey", expr(s"canonical_kmer(substring(frag, 1, $k))"))
    }
    val stitchedF = Future {
      Assembler.assemble(counts, k, minCov = 1, maxIter = 120)
        .toDF("contig").localCheckpoint()
    }
    val strict = Await.result(strictF, Duration.Inf)
    val stitched = Await.result(stitchedF, Duration.Inf)
    val contigKmers = stitched
      .select(col("contig"),
        explode(sequence(lit(1), length(col("contig")) - (k - 1))).as("i"))
      .selectExpr("contig", s"canonical_kmer(substring(contig, i, $k)) AS fkey")
      .distinct()
    contigKmers.join(strict, "fkey")
      .filter(col("contig").contains(col("frag")) ||
        col("contig").contains(reverse(translate(col("frag"), "ACGT", "TGCA"))))
      .select(col("contig"), col("frag")).distinct()
      .groupBy("contig").agg(count(lit(1)).as("nfrag"))
      .filter(col("nfrag") >= 2)
      .select(col("contig"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // -- J7: contig-contig candidates via read inverted index --------------
    "j7_cc_pairs" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      val dna = documents(s, d).select(col("doc_id"), Genomics.dna64(col("doc_id")).as("s"))
      // two contig halves per document + a read spanning the junction
      val contigs = dna.selectExpr("doc_id * 2 AS cid", "substring(s, 1, 32) AS c")
        .union(dna.selectExpr("doc_id * 2 + 1 AS cid", "substring(s, 33, 32) AS c"))
      val ends = contigs.selectExpr("cid",
        "canonical_kmer(substring(c, 1, 21)) AS mk")
        .union(contigs.selectExpr("cid", "canonical_kmer(substring(c, 12, 21)) AS mk"))
        .distinct()
      val reads = dna.selectExpr("doc_id AS rid", "substring(s, 12, 42) AS r")
      val readKmers = reads
        .select(col("rid"), col("r"), explode(sequence(lit(1), lit(22))).as("i"))
        .selectExpr("rid", "canonical_kmer(substring(r, i, 21)) AS mk")
        .distinct()
      val rac = readKmers.join(ends, "mk").select("rid", "cid").distinct()
      rac.join(rac.select(col("rid"), col("cid").as("cid2")), "rid")
        .filter(col("cid") < col("cid2"))
        .groupBy(col("cid").as("ca"), col("cid2").as("cb"))
        .agg(count(lit(1)).as("n"))
        .select(col("ca"), col("cb"), col("n"))
    }),

    // -- J13: stitch across a coverage-1 bridge ----------------------------
    "j13_stitch" -> ((s, d) => {
      import s.implicits._
      val dna = documents(s, d).select(Genomics.dna64(col("doc_id")).as("s"))
      // halves sequenced twice (solid), junction bridged once (stitch kmers)
      val reads = dna.selectExpr("substring(s, 1, 32) AS r")
        .union(dna.selectExpr("substring(s, 1, 32)"))
        .union(dna.selectExpr("substring(s, 33, 32)"))
        .union(dna.selectExpr("substring(s, 33, 32)"))
        .union(dna.selectExpr("substring(s, 13, 40)")) // single bridge read
        .as[String]
      stitchReads(reads, 21)
    })
  )

  def oracles: Map[String, String] = Map(
    "j7_cc_pairs" ->
      s"""WITH dna AS (SELECT doc_id, $sqlDna64 AS s FROM documents),
         |contigs AS (
         |  SELECT doc_id * 2 AS cid, substr(s, 1, 32) AS c FROM dna
         |  UNION ALL
         |  SELECT doc_id * 2 + 1 AS cid, substr(s, 33, 32) AS c FROM dna),
         |ends AS (
         |  SELECT DISTINCT cid, mk FROM (
         |    SELECT cid, ${sqlCanon("substr(c, 1, 21)")} AS mk FROM contigs
         |    UNION ALL
         |    SELECT cid, ${sqlCanon("substr(c, 12, 21)")} FROM contigs)),
         |rk AS (
         |  SELECT DISTINCT doc_id AS rid, ${sqlCanon("substr(r, i, 21)")} AS mk
         |  FROM (SELECT doc_id, substr(s, 12, 42) AS r,
         |          unnest(generate_series(1, 22)) AS i FROM dna)),
         |rac AS (SELECT DISTINCT rid, cid FROM rk JOIN ends USING (mk))
         |SELECT a.cid AS ca, b.cid AS cb, COUNT(*) AS n
         |FROM rac a JOIN rac b ON a.rid = b.rid AND a.cid < b.cid
         |GROUP BY a.cid, b.cid""".stripMargin,
    "j13_stitch" ->
      s"""WITH dna AS (SELECT $sqlDna64 AS s FROM documents)
         |SELECT DISTINCT least(s, reverse(translate(s, 'ACGT', 'TGCA'))) AS contig FROM dna""".stripMargin
  )
}
