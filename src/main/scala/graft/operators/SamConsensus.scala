package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** E3 core: SAM-driven contig-end extension (the reference's
  * `ReflexivDSDynamicKmerMapping.java:369` SAM parse +
  * `DSProcessSAMandExtendContigs` `:564-995` consensus logic, re-expressed
  * as declarative relational steps instead of a sorted-partition state
  * machine).
  *
  * Semantics: reads that minimap2 (or any SAM producer) aligned near a
  * contig edge with a soft-clipped overhang carry sequence *beyond* the
  * contig end. Every overhanging base votes for (contig, side, offset);
  * the majority base wins per offset (ties to the lexicographically larger
  * base, matching the reference's T>G>C>A preference); the extension is
  * the contiguous run of winning offsets (1, 2, 3, ... with no gap) with
  * winning depth >= minDepth.
  *
  * Spark shape: one flatMap to parse CIGARs into votes, one hash
  * aggregation for vote counts, `max_by` per offset, one bounded
  * `groupByKey.mapGroups` (<= maxExt rows per group) to take the
  * contiguous prefix — no sorted-partition assumptions, no state machine,
  * every stage a distributed shuffle or map. The SAM source itself is
  * pluggable (pipe minimap2 via [[graft.sources.PipeOps]] or read `.sam`
  * text); the consensus logic needs no external binary, so it is fully
  * testable with synthetic rows.
  */
object SamConsensus extends QueryFamily {

  /** One aligned read: 1-based mapping position, CIGAR, read sequence. */
  case class SamRow(contig: String, pos: Int, cigar: String, seq: String)

  private val CigarToken = "(\\d+)([MIDNSHP=X])".r

  /** Parse a CIGAR into (length, op) tokens; empty for '*' or malformed. */
  def parseCigar(c: String): IndexedSeq[(Int, Char)] =
    CigarToken.findAllMatchIn(c).map(m => (m.group(1).toInt, m.group(2).head)).toIndexedSeq

  /** Reference-consuming length (M/D/N/=/X). */
  def alignSpan(toks: Seq[(Int, Char)]): Int =
    toks.collect { case (n, op) if "MDN=X".indexOf(op) >= 0 => n }.sum

  /** Per-base extension votes: (contig, side L|R, offset >= 1 outward from
    * the edge, base). Only reads whose alignment starts (L) / ends (R)
    * within `edgeTol` of the contig edge vote — interior soft-clips are
    * chimeric/repeat artifacts, not evidence of an extension. */
  private[operators] def votesFor(r: SamRow, clen: Int, edgeTol: Int,
                                  maxExt: Int): Seq[(String, String, Int, String)] = {
    val toks = parseCigar(r.cigar)
    if (toks.isEmpty) return Nil
    val out = Seq.newBuilder[(String, String, Int, String)]
    val lead = if (toks.head._2 == 'S') toks.head._1 else 0
    val trail = if (toks.length > 1 && toks.last._2 == 'S') toks.last._1 else 0
    if (lead > 0 && r.pos <= edgeTol) {
      // read index i < lead sits at contig coordinate pos - (lead - i);
      // coordinates <= 0 are left of the contig: offset 1 = adjacent base
      var i = 0
      while (i < lead && i < r.seq.length) {
        val coord = r.pos - (lead - i)
        val off = 1 - coord
        if (coord <= 0 && off <= maxExt) out += ((r.contig, "L", off, r.seq.substring(i, i + 1)))
        i += 1
      }
    }
    if (trail > 0 && clen - (r.pos + alignSpan(toks) - 1) < edgeTol) {
      val end = r.pos + alignSpan(toks) - 1 // last aligned contig coordinate
      var j = 0
      val base0 = r.seq.length - trail
      while (j < trail && base0 + j >= 0 && base0 + j < r.seq.length) {
        val coord = end + 1 + j
        val off = coord - clen
        if (off >= 1 && off <= maxExt) out += ((r.contig, "R", off, r.seq.substring(base0 + j, base0 + j + 1)))
        j += 1
      }
    }
    out.result()
  }

  /** Extend contigs `(id, seq)` using aligned reads `(contig, pos, cigar,
    * seq)`. Returns `(id, seq, lext, rext, extended)` — the winning
    * left/right extension strings (possibly empty) and the extended
    * contig. */
  def extendContigs(contigs: DataFrame, sam: DataFrame, edgeTol: Int = 10,
                    maxExt: Int = 300, minDepth: Int = 1): DataFrame = {
    val s = contigs.sparkSession
    import s.implicits._
    val withLen = sam.select(col("contig"), col("pos").cast("int"), col("cigar"), col("seq"))
      .join(contigs.select(col("id").as("contig"), length(col("seq")).as("clen")), "contig")
      .as[(String, Int, String, String, Int)]
    val votes = withLen.flatMap { case (c, p, cg, sq, clen) =>
      votesFor(SamRow(c, p, cg, sq), clen, edgeTol, maxExt)
    }.toDF("contig", "side", "off", "base")
    val best = votes.groupBy("contig", "side", "off", "base").count()
      .groupBy("contig", "side", "off")
      .agg(max_by(col("base"), struct(col("count"), col("base"))).as("base"),
        max(struct(col("count"), col("base"))).getField("count").as("depth"))
      .filter(col("depth") >= minDepth)
    // contiguous prefix of offsets 1,2,3... — bounded (<= maxExt rows/group)
    val exts = best.select(col("contig"), col("side"), col("off"), col("base"))
      .as[(String, String, Int, String)]
      .groupByKey(t => (t._1, t._2))
      .mapGroups { (key: (String, String), it: Iterator[(String, String, Int, String)]) =>
        val sorted = it.toArray.sortBy(_._3)
        val run = sorted.zipWithIndex.takeWhile { case (t, i) => t._3 == i + 1 }.map(_._1._4)
        val text = run.mkString
        // L offsets grow outward (leftward): reading order is the reverse
        (key._1, key._2, if (key._2 == "L") text.reverse else text)
      }
      .toDF("contig", "side", "ext")
      .groupBy("contig")
      .agg(max(when(col("side") === "L", col("ext"))).as("lext"),
        max(when(col("side") === "R", col("ext"))).as("rext"))
    contigs
      .join(exts, contigs("id") === exts("contig"), "left")
      .select(col("id"), col("seq"),
        coalesce(col("lext"), lit("")).as("lext"),
        coalesce(col("rext"), lit("")).as("rext"))
      .withColumn("extended", concat(col("lext"), col("seq"), col("rext")))
  }

  /** j14: synthetic SAM rows over the documents table — each doc's contig
    * is its dna64; simulated reads overhang both ends with deterministic
    * md5-derived sequence, so the consensus is unanimous and the oracle is
    * closed-form. Exercises the real operator end-to-end (CIGAR parse,
    * edge filters, vote aggregation, contiguity, application). */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "j14_sam_consensus" -> ((s, d) => {
      val g = Genomics.dna64(col("doc_id"))
      val extR = substring(translate(md5(concat(col("doc_id").cast("string"), lit("y")).cast("binary")),
        "0123456789abcdef", "ACGTACGTACGTACGT"), 1, 10)
      val extL = substring(translate(md5(concat(col("doc_id").cast("string"), lit("z")).cast("binary")),
        "0123456789abcdef", "ACGTACGTACGTACGT"), 1, 8)
      val docs = documents(s, d).select(col("doc_id").cast("string").as("id"),
        g.as("seq"), extL.as("el"), extR.as("er"))
      val contigs = docs.select("id", "seq")
      // right-end reads: 20M aligned at pos 45 (ends at 64) + 10S overhang;
      // left-end reads: 8S overhang + 20M aligned at pos 1. Two copies each
      // (different aligned spans) — unanimous votes.
      val sam = docs.select(col("id").as("contig"), lit(45).as("pos"),
          lit("20M10S").as("cigar"), concat(expr("substring(seq, 45, 20)"), col("er")).as("seq"))
        .unionAll(docs.select(col("id").as("contig"), lit(41).as("pos"),
          lit("24M10S").as("cigar"), concat(expr("substring(seq, 41, 24)"), col("er")).as("seq")))
        .unionAll(docs.select(col("id").as("contig"), lit(1).as("pos"),
          lit("8S20M").as("cigar"), concat(col("el"), expr("substring(seq, 1, 20)")).as("seq")))
        .unionAll(docs.select(col("id").as("contig"), lit(1).as("pos"),
          lit("8S24M").as("cigar"), concat(col("el"), expr("substring(seq, 1, 24)")).as("seq")))
      extendContigs(contigs, sam, edgeTol = 10, maxExt = 300, minDepth = 1)
        .select("id", "lext", "rext", "extended")
    })
  )

  def oracles: Map[String, String] = Map(
    "j14_sam_consensus" ->
      """WITH t AS (
        |  SELECT CAST(doc_id AS VARCHAR) AS id,
        |         translate(md5(CAST(doc_id AS VARCHAR)), '0123456789abcdef', 'ACGTACGTACGTACGT')
        |           || translate(md5(CAST(doc_id AS VARCHAR) || 'x'), '0123456789abcdef', 'ACGTACGTACGTACGT') AS seq,
        |         substring(translate(md5(CAST(doc_id AS VARCHAR) || 'z'), '0123456789abcdef', 'ACGTACGTACGTACGT'), 1, 8) AS lext,
        |         substring(translate(md5(CAST(doc_id AS VARCHAR) || 'y'), '0123456789abcdef', 'ACGTACGTACGTACGT'), 1, 10) AS rext
        |  FROM documents)
        |SELECT id, lext, rext, lext || seq || rext AS extended FROM t""".stripMargin
  )
}
