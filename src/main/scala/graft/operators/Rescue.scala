package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables._
import graft.core.Fixpoint
import graft.sources.{Fastq, PipeOps}

/** Rescue/merge operators (SURVEY J6/J8/J10, A2) plus the k-mer CSV and
  * external-pipe round-trips (S3/S5/P5, E1-E3 shape). All declarative:
  * position explosion + the native `canonical_kmer` expression + windows,
  * so the per-read logic runs inside codegen and the only shuffles are the
  * solidity join and per-read window.
  */
object Rescue extends QueryFamily {
  private val K = 7

  private def posKmers(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    documents(s, d)
      .select(col("doc_id"), Genomics.dna32(col("doc_id")).as("s"))
      .select(col("doc_id"), col("s"),
        explode(sequence(lit(1), length(col("s")) - (K - 1))).as("i"))
      .selectExpr("doc_id", "i", s"canonical_kmer(substring(s, i, $K)) AS kmer")
  }

  /** J8 generic form: rescue non-solid k-mers that sit between solid
    * anchors within a read (the reference's mercy-kmer pass,
    * `ReflexivDSDynamicMercyKmer.java` semantics) — low-coverage k-mers
    * bridging two solid stretches are real sequence, not error, in
    * low-coverage runs. Returns the rescued k-mers (canonical, distinct). */
  def mercyKmers(reads: Dataset[String], k: Int, solidCov: Int = 2): DataFrame = {
    val s = reads.sparkSession
    graft.functions.GraftFunctions.register(s)
    val withId = reads.toDF("r").withColumn("rid", monotonically_increasing_id())
    val pk = withId
      .select(col("rid"), col("r"),
        explode(sequence(lit(1), length(col("r")) - (k - 1))).as("i"))
      .selectExpr("rid", "i", s"canonical_kmer(substring(r, i, $k)) AS kmer")
    val solid = pk.groupBy("kmer").agg(count(lit(1)).as("c"))
      .filter(col("c") >= solidCov).select(col("kmer"), lit(1).as("is_solid"))
    val flagged = pk.join(solid, Seq("kmer"), "left")
      .withColumn("sf", coalesce(col("is_solid"), lit(0)))
    val byRead = Window.partitionBy("rid").orderBy("i")
    val before = byRead.rowsBetween(Window.unboundedPreceding, -1)
    val after = byRead.rowsBetween(1, Window.unboundedFollowing)
    flagged
      .withColumn("solid_before", max(col("sf")).over(before))
      .withColumn("solid_after", max(col("sf")).over(after))
      .filter(col("sf") === 0 && col("solid_before") === 1 && col("solid_after") === 1)
      .select(col("kmer")).distinct()
  }

  /** Integrate mercy rescue into a counting pipeline (the reference runs
    * mercy as a stage of its assembly, not only standalone): rescued
    * k-mers — non-solid but bridging two solid anchors within a read —
    * get their count lifted to `minCov`, so the downstream coverage gate
    * keeps them and low-coverage gaps assemble through. One anti-join-free
    * left join against the (small) rescued set, keyed like the count
    * table ([[Genomics.countCanonical]]'s `kv` at any k): the rescue scan
    * itself is string-domain, and [[Genomics.kmerKey]] turns its canonical
    * strings into that key. */
  def applyMercy(counts: DataFrame, reads: Dataset[String], k: Int,
                 minCov: Int): DataFrame = {
    val rescued = mercyKmers(reads, k, solidCov = minCov)
      .select(Genomics.kmerKey(col("kmer"), k).as("kv"), lit(1).as("mercy"))
    counts.join(rescued, Seq("kv"), "left")
      .select(col("kv"),
        when(col("mercy") === 1, greatest(col("count"), lit(minCov.toLong)))
          .otherwise(col("count")).as("count"))
  }

  /** J10 generic form: splice contigs whose `overlap`-base suffix equals
    * another contig's prefix (the join key IS the overlap, so each round is
    * an equi-join, never contig × contig).
    *
    * Splicing iterates to a FIXPOINT: a chain A→B→C yields one full A+B+C
    * contig, not two overlapping partials that duplicate B (single-pass
    * splicing did exactly that). Per round only UNAMBIGUOUS 1:1 splices
    * fire — a key shared by several suffixes or several prefixes is a fork
    * and merging it would fabricate chimeric duplicates — and a contig
    * that is itself being extended defers its own extension to the next
    * round (chain A→B→C merges A+B first, then (A+B)+C), so each round's
    * output is well-defined and the loop converges in O(chain length)
    * rounds. Perfect overlap cycles (A→B→A) have no chain head, never
    * fire, and pass through unchanged. Contigs in no splice pass through.
    * The rounds run in [[graft.core.Fixpoint]]: a round that splices
    * nothing leaves the contig set unchanged and ends the loop. */
  def overlapMergeContigs(contigs: Dataset[String], overlap: Int,
                          maxRounds: Int = 16): Dataset[String] = {
    val s = contigs.sparkSession
    import s.implicits._
    Fixpoint("overlap_merge", contigs.toDF("c"), maxRounds) { (df, _) =>
      val a = df.select(col("c").as("ca"),
        expr(s"substring(c, length(c) - ${overlap - 1}, $overlap)").as("key"))
      val b = df.select(col("c").as("cb"),
        expr(s"substring(c, 1, $overlap)").as("key"))
      // keys with exactly one suffix and exactly one prefix occurrence
      val uniq = a.groupBy("key").agg(count(lit(1)).as("na"))
        .join(b.groupBy("key").agg(count(lit(1)).as("nb")), "key")
        .filter(col("na") === 1 && col("nb") === 1)
        .select("key")
      val pairs = a.join(b, "key").join(uniq, "key")
        .filter(col("ca") =!= col("cb"))
      // chain interiors wait: drop splices whose LEFT side is itself the
      // right side of another splice this round
      val heads = pairs.join(
        pairs.select(col("cb").as("ca")), Seq("ca"), "left_anti")
      val merged = heads
        .select(concat(col("ca"), expr(s"substring(cb, ${overlap + 1})")).as("c"))
      val consumed = heads.select(col("ca").as("c"))
        .unionAll(heads.select(col("cb").as("c"))).distinct()
      merged.unionAll(df.join(consumed, Seq("c"), "left_anti"))
    }.select(col("c")).as[String]
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // -- J8: mercy k-mer rescue — non-solid kmers between solid anchors ----
    "j8_mercy_kmers" -> ((s, d) => {
      val pk = posKmers(s, d)
      val solid = pk.groupBy("kmer").agg(count(lit(1)).as("c"))
        .filter(col("c") >= 2).select(col("kmer"), lit(1).as("is_solid"))
      val flagged = pk.join(solid, Seq("kmer"), "left")
        .withColumn("sf", coalesce(col("is_solid"), lit(0)))
      val byRead = Window.partitionBy("doc_id").orderBy("i")
      val before = byRead.rowsBetween(Window.unboundedPreceding, -1)
      val after = byRead.rowsBetween(1, Window.unboundedFollowing)
      flagged
        .withColumn("solid_before", max(col("sf")).over(before))
        .withColumn("solid_after", max(col("sf")).over(after))
        .filter(col("sf") === 0 && col("solid_before") === 1 && col("solid_after") === 1)
        .select(col("kmer")).distinct()
    }),

    // -- J6 + A2: contig-end fingerprints with vote counts -----------------
    "j6_contig_ends" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      documents(s, d)
        .select(Genomics.dna64(col("doc_id")).as("c"))
        .selectExpr("canonical_kmer(substring(c, 1, 21)) AS head_mk",
          "canonical_kmer(substring(c, length(c) - 20, 21)) AS tail_mk")
        .select(explode(array(col("head_mk"), col("tail_mk"))).as("mk"))
        .groupBy("mk").agg(count(lit(1)).as("n"))
    }),

    // -- J10: redundant-overlap contig merger ------------------------------
    // two "assemblies" overlap by k-1=20 bases; suffix/prefix equi-join
    // splices them (a cartesian-free merge: the join key IS the overlap)
    "j10_overlap_merge" -> ((s, d) => {
      val a = documents(s, d).select(col("doc_id").as("aid"),
        substring(Genomics.dna64(col("doc_id")), 1, 40).as("sa"))
        .withColumn("key", substring(col("sa"), 21, 20))
      val b = documents(s, d).select(col("doc_id").as("bid"),
        substring(Genomics.dna64(col("doc_id")), 21, 44).as("sb"))
        .withColumn("key2", substring(col("sb"), 1, 20))
      a.join(b, col("key") === col("key2"))
        .select(col("aid"), col("bid"),
          concat(col("sa"), expr("substring(sb, 21)")).as("merged"))
    }),

    // -- S5 + S3 + P5: k-mer CSV sink -> source -> binarize round-trip -----
    "f3_csv_kmer_roundtrip" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      val tmp = s"${graft.Scratch.dir(d)}/kmer_csv"
      val cnt = Genomics.decodeCounts(
        Genomics.countCanonical(docSeqs15(s, d), 15), 15)
      Fastq.writeCsv(cnt, tmp)
      s.read.schema("kmer STRING, count BIGINT").csv(tmp)
        .selectExpr("kmer_pack(kmer) AS kv", "count")    // P5 binarize
        .selectExpr("kmer_unpack(kv, 15) AS kmer", "count") // decode back
    }),

    // -- E1-E3 shape: partition-wise subprocess pipe (identity transform) --
    "f4_pipe_roundtrip" -> ((s, d) => {
      import s.implicits._
      val reads = documents(s, d).select(Genomics.dna32(col("doc_id"))
        .cast("string")).as[String]
      val piped = PipeOps.pipePartitions(reads, Seq("cat"))
      Genomics.decodeCounts(Genomics.countCanonical(piped, 15), 15)
    })
  )

  private def docSeqs15(s: SparkSession, d: String) = {
    import s.implicits._
    documents(s, d).select(Genomics.dna32(col("doc_id")).cast("string")).as[String]
  }

  private def sqlCanon(e: String) =
    s"least($e, reverse(translate($e, 'ACGT', 'TGCA')))"
  private val sqlDna32 =
    "translate(md5(CAST(doc_id AS VARCHAR)), '0123456789abcdef', 'ACGTACGTACGTACGT')"
  private val sqlDna64 = sqlDna32 +
    " || translate(md5(CAST(doc_id AS VARCHAR) || 'x'), '0123456789abcdef', 'ACGTACGTACGTACGT')"

  def oracles: Map[String, String] = Map(
    "j8_mercy_kmers" ->
      s"""WITH pk AS (
         |  SELECT doc_id, i, ${sqlCanon(s"substr(s, i, $K)")} AS kmer
         |  FROM (SELECT doc_id, s, unnest(generate_series(1, length(s) - ${K - 1})) AS i
         |        FROM (SELECT doc_id, $sqlDna32 AS s FROM documents))),
         |solid AS (SELECT kmer FROM pk GROUP BY kmer HAVING COUNT(*) >= 2),
         |fl AS (SELECT p.doc_id, p.i, p.kmer,
         |         CASE WHEN s.kmer IS NULL THEN 0 ELSE 1 END AS sf
         |       FROM pk p LEFT JOIN solid s ON p.kmer = s.kmer)
         |SELECT DISTINCT kmer FROM (
         |  SELECT kmer, sf,
         |    MAX(sf) OVER (PARTITION BY doc_id ORDER BY i
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS solid_before,
         |    MAX(sf) OVER (PARTITION BY doc_id ORDER BY i
         |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS solid_after
         |  FROM fl)
         |WHERE sf = 0 AND solid_before = 1 AND solid_after = 1""".stripMargin,
    "j6_contig_ends" ->
      s"""WITH c AS (SELECT $sqlDna64 AS c FROM documents),
         |mk AS (
         |  SELECT ${sqlCanon("substr(c, 1, 21)")} AS mk FROM c
         |  UNION ALL
         |  SELECT ${sqlCanon("substr(c, length(c) - 20, 21)")} FROM c)
         |SELECT mk, COUNT(*) AS n FROM mk GROUP BY mk""".stripMargin,
    "j10_overlap_merge" ->
      s"""WITH dna AS (SELECT doc_id, $sqlDna64 AS s FROM documents),
         |a AS (SELECT doc_id AS aid, substr(s, 1, 40) AS sa FROM dna),
         |b AS (SELECT doc_id AS bid, substr(s, 21, 44) AS sb FROM dna)
         |SELECT aid, bid, sa || substr(sb, 21) AS merged
         |FROM a JOIN b ON substr(sa, 21, 20) = substr(sb, 1, 20)""".stripMargin,
    "f3_csv_kmer_roundtrip" -> Genomics.oracles("g1_kmer_count"),
    "f4_pipe_roundtrip" -> Genomics.oracles("g1_kmer_count")
  )
}
