package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables._
import graft.core.{KmerCodec, KmerIter}

/** Dynamic-k layer operators (SURVEY §2.4 J4/J5/J9): cross-k reduction,
  * left/right sorted export, and contig containment dedup — the building
  * blocks of the reference's `reduce`/`meta` pipelines
  * (`ReflexivDSDynamicKmerRuduction.java:199-230`,
  * `ReflexivDSKmerLeftAndRightSorting.java:105-243`,
  * `ReflexivDSDynamicKmerDedup.java:198-330`), re-expressed as anti-joins
  * and window functions instead of sorted-adjacency scans.
  *
  * Partition annealing: the reference hand-shrinks its partition count as
  * the k-ladder climbs and the k-mer table contracts
  * (`Pipelines.java:877-884,955-980` halves partitions per stage). This
  * engine deliberately does NOT reproduce that schedule — stage outputs go
  * through AQE coalescing (`spark.sql.adaptive.coalescePartitions`), which
  * right-sizes post-shuffle partitions from runtime statistics at every k,
  * and `-partitionredu N` remains the manual override for a fixed width.
  */
object Dynamic extends QueryFamily {
  private val K1 = 11
  private val K2 = 15

  private def docSeqs(s: SparkSession, d: String) = {
    import s.implicits._
    documents(s, d).select(Genomics.dna32(col("doc_id")).cast("string")).as[String]
  }

  /** Canonical decode of a packed sub-window of a packed k-mer. */
  private def canonSub(kv: Long, from: Int, k: Int, fullK: Int): String = {
    val shifted = (kv >>> (2 * (fullK - from - k))) & ((1L << (2 * k)) - 1)
    KmerCodec.decodeLong(KmerCodec.canonicalLong(shifted, k), k)
  }

  /** J4 generic form (the `reduce` subcommand,
    * `ReflexivDSDynamicKmerRuduction.java:199-230` semantics): drop from
    * the shorter-k count table every k1-mer that is the left- or
    * right-aligned canonical sub-k-mer of some longer counted k2-mer —
    * those k1-mers carry no information the k2 table doesn't. Both inputs
    * are decoded `(kmer STRING, count)` tables; the reduction is two
    * projections + one anti-join, never a positional scan. */
  def reduceCounts(shortCounts: DataFrame, longCounts: DataFrame,
                   k1: Int, k2: Int): DataFrame = {
    require(k1 < k2, s"reduce needs k1 < k2, got $k1 >= $k2")
    val s = shortCounts.sparkSession
    graft.functions.GraftFunctions.register(s)
    val sub = longCounts.selectExpr(s"canonical_kmer(substring(kmer, 1, $k1)) AS kmer")
      .union(longCounts.selectExpr(
        s"canonical_kmer(substring(kmer, ${k2 - k1 + 1}, $k1)) AS kmer"))
      .distinct()
    shortCounts.join(sub, Seq("kmer"), "left_anti")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // -- J4: cross-k reduction — drop k1-mers subsumed by counted k2-mers --
    // (left-aligned pass + right-aligned pass, as two anti-join sides)
    "j4_cross_k_reduce" -> ((s, d) => {
      import s.implicits._
      val short = Genomics.decodeCounts(Genomics.countCanonical(docSeqs(s, d), K1), K1)
      // k2 counts over the truncated front of each sequence, so tail k1-mers
      // genuinely survive the reduction (non-empty result at every sf)
      val trunc = documents(s, d)
        .select(substring(Genomics.dna32(col("doc_id")), 1, 24).cast("string")).as[String]
      val subsumed = Genomics.countCanonical(trunc, K2)
        .as[(Long, Long)]
        .flatMap { case (kv, _) => Seq(
          canonSub(kv, 0, K1, K2),       // left-aligned sub-kmer
          canonSub(kv, K2 - K1, K1, K2)) // right-aligned sub-kmer
        }
        .toDF("kmer").distinct()
      short.join(subsumed, Seq("kmer"), "left_anti")
    }),

    // -- J5: left/right sorted export with "marker|left|right" attribute ---
    "j5_sorted_export" -> ((s, d) => {
      val cnt = Genomics.decodeCounts(Genomics.countCanonical(docSeqs(s, d), K2), K2)
        .withColumn("prefix", substring(col("kmer"), 1, K2 - 1))
        .withColumn("suffix", substring(col("kmer"), 2, K2 - 1))
      cnt
        .withColumn("left", count(lit(1)).over(Window.partitionBy("prefix")))
        .withColumn("right", count(lit(1)).over(Window.partitionBy("suffix")))
        .select(col("kmer"),
          concat_ws("|", lit(1), col("left"), col("right")).as("attr"))
    }),

    // -- A3 + J9: marker-kmer vote + containment dedup ---------------------
    // Corpus augmented with strict substrings (doc_id + 200000) the dedup
    // must remove; survivors are the maximal contigs.
    // Scale shape: the PROBE side samples one marker per contig (the
    // reference samples a few, `ReflexivDSDynamicKmerDedup.java:2206`) —
    // a contained contig's first canonical k-mer necessarily appears in
    // its container's full marker set, so one probe marker finds every
    // true containment while the probe table stays O(contigs), not
    // O(total bases).
    "j9_contig_dedup" -> ((s, d) => {
      import s.implicits._
      val doc = documents(s, d)
      val contigs = doc.select(col("doc_id").as("cid"), Genomics.dna64(col("doc_id")).as("seq"))
        .union(doc.select((col("doc_id") + 200000).as("cid"),
          substring(Genomics.dna64(col("doc_id")), 9, 40).as("seq")))
      val withLen = contigs.withColumn("len", length(col("seq")))
      val markers = withLen.select(col("cid"), col("seq")).as[(Long, String)]
        .flatMap { case (cid, seq) =>
          KmerIter.canonicalLong(seq, 21).map(kv => (cid, KmerCodec.decodeLong(kv, 21)))
        }
        .toDF("cid", "mk").distinct()
      val probes = withLen.select(col("cid"), col("seq")).as[(Long, String)]
        .flatMap { case (cid, seq) =>
          KmerIter.canonicalLong(seq, 21).take(1).map(kv => (cid, KmerCodec.decodeLong(kv, 21)))
        }
        .toDF("cid", "mk")
      val a = probes.join(withLen.select(col("cid"), col("len").as("la"),
        col("seq").as("sa")), "cid")
        .select(col("cid").as("ca"), col("mk"), col("la"), col("sa"))
      val b = markers.join(withLen.select(col("cid"), col("len").as("lb"),
        col("seq").as("sb")), "cid")
        .select(col("cid").as("cb"), col("mk").as("mk2"), col("lb"), col("sb"))
      val contained = a.join(b, col("mk") === col("mk2") && col("la") < col("lb"))
        .filter(col("sb").contains(col("sa")) ||
          col("sb").contains(reverse(translate(col("sa"), "ACGT", "TGCA"))))
        .select(col("ca").as("cid")).distinct()
      withLen.join(contained, Seq("cid"), "left_anti").select(col("cid"), col("len"))
    })
  )

  private def sqlCanon(e: String) =
    s"least($e, reverse(translate($e, 'ACGT', 'TGCA')))"
  private def sqlCounts(k: Int, cte: String) =
    s"""${cte}seq AS (SELECT translate(md5(CAST(doc_id AS VARCHAR)), '0123456789abcdef', 'ACGTACGTACGTACGT') AS s FROM documents),
       |pos$k AS (SELECT s, unnest(generate_series(1, length(s) - $k + 1)) AS i FROM seq),
       |cnt$k AS (SELECT kmer, COUNT(*) AS c FROM
       |  (SELECT ${sqlCanon(s"substr(s, i, $k)")} AS kmer FROM pos$k) GROUP BY kmer)""".stripMargin

  def oracles: Map[String, String] = Map(
    "j4_cross_k_reduce" ->
      (sqlCounts(K1, "WITH ") + ",\n" +
        s"""pos2 AS (SELECT substr(s, 1, 24) AS s, unnest(generate_series(1, 24 - $K2 + 1)) AS i FROM seq),
           |k2 AS (SELECT DISTINCT ${sqlCanon(s"substr(s, i, $K2)")} AS kmer FROM pos2),
           |sub AS (SELECT ${sqlCanon(s"substr(kmer, 1, $K1)")} AS kmer FROM k2
           |        UNION SELECT ${sqlCanon(s"substr(kmer, ${K2 - K1 + 1}, $K1)")} FROM k2)
           |SELECT kmer, c AS count FROM cnt$K1 WHERE kmer NOT IN (SELECT kmer FROM sub)""".stripMargin),
    "j5_sorted_export" ->
      (sqlCounts(K2, "WITH ") + s"""
         |SELECT kmer, '1' || '|' ||
         |  CAST(COUNT(*) OVER (PARTITION BY substr(kmer, 1, ${K2 - 1})) AS VARCHAR) || '|' ||
         |  CAST(COUNT(*) OVER (PARTITION BY substr(kmer, 2, ${K2 - 1})) AS VARCHAR) AS attr
         |FROM cnt$K2""".stripMargin),
    "j9_contig_dedup" ->
      s"""WITH dna AS (SELECT doc_id,
         |  translate(md5(CAST(doc_id AS VARCHAR)), '0123456789abcdef', 'ACGTACGTACGTACGT')
         |  || translate(md5(CAST(doc_id AS VARCHAR) || 'x'), '0123456789abcdef', 'ACGTACGTACGTACGT') AS s
         |  FROM documents),
         |contigs AS (
         |  SELECT doc_id AS cid, s AS seq FROM dna
         |  UNION ALL
         |  SELECT doc_id + 200000 AS cid, substr(s, 9, 40) AS seq FROM dna),
         |wl AS (SELECT cid, seq, length(seq) AS len FROM contigs),
         |mk AS (SELECT DISTINCT cid, ${sqlCanon("substr(seq, i, 21)")} AS mk
         |       FROM (SELECT cid, seq, unnest(generate_series(1, length(seq) - 20)) AS i FROM wl)),
         |contained AS (
         |  SELECT DISTINCT a.cid
         |  FROM (SELECT m.cid, m.mk, w.len AS la, w.seq AS sa FROM mk m JOIN wl w ON m.cid = w.cid) a
         |  JOIN (SELECT m.cid, m.mk, w.len AS lb, w.seq AS sb FROM mk m JOIN wl w ON m.cid = w.cid) b
         |    ON a.mk = b.mk AND a.la < b.lb
         |  WHERE contains(b.sb, a.sa)
         |     OR contains(b.sb, reverse(translate(a.sa, 'ACGT', 'TGCA'))))
         |SELECT cid, len FROM wl WHERE cid NOT IN (SELECT cid FROM contained)""".stripMargin
  )
}
