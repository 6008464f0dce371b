package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables._

/** E2's substance — in-engine k-mer-spectrum read error correction.
  *
  * The reference's `preprocess` stage pipes every read through the external
  * `lighter` binary (`ReflexivDataFrameErrorCorrecter.java:551-632`,
  * `Pipelines.java:1299`) — the engine itself has no corrector. This is the
  * same spectrum idea (count k-mers; a sequencing error makes every k-mer
  * covering it rare, so patch the base whose restoration makes them solid)
  * expressed as three Catalyst stages instead of a subprocess:
  *
  *  1. SPECTRUM: canonical k-mer counts over the (noisy) read set; a k-mer
  *     is `solid` when its count >= `minSolid` (errors are singletons at
  *     any real coverage; correct k-mers are re-sampled by overlapping
  *     reads).
  *  2. SUSPECTS: score the ORIGINAL read's k-mers once (one anti-join —
  *     L-k+1 rows per read) and keep only the starts of non-solid k-mers.
  *     A substitution at p can only strictly improve the covering solid
  *     count when some k-mer covering p is non-solid, so positions whose
  *     covering window is fully solid are pruned BEFORE any candidate is
  *     generated — at realistic error rates that is almost every position
  *     of almost every read. The baseline score `oc` at a surviving p
  *     needs no join at all: it is `#covering(p) - #non-solid covering p`,
  *     both computable from the non-solid start list.
  *  3. CANDIDATES: the 3 alternate bases at each suspect position; only
  *     the <=k ALTERED k-mers covering p hit the solid join (k-mers not
  *     touching p are identical for every candidate of a read, so ranking
  *     by covering-solid-count difference `delta = c - oc` equals ranking
  *     by whole-read solid count at a fraction of the join volume).
  *  4. SELECT: the best strict improvement (delta > 0) wins, deterministic
  *     tie-break (position asc, base asc); otherwise the read is untouched.
  *     The `row_number` window PARTITIONED BY read_id only ever sees
  *     delta > 0 rows — bounded at 3·L rows per partition regardless of
  *     corpus size, and empty for clean reads. Pruning is exact, not
  *     heuristic: delta > 0 forces c > oc, i.e. a non-solid covering
  *     k-mer, i.e. a suspect position — so the argmax over suspect
  *     candidates equals the argmax over all 3·L candidates whenever a
  *     strict improvement exists, and the output is bit-identical to the
  *     unpruned form (the DuckDB oracle computes the unpruned form).
  *
  * Everything is string-domain `least(s, revcomp(s))` canonicalization —
  * identical semantics in DuckDB (`least`/`reverse`/`translate`), which is
  * what makes the p1 oracle exact; for k <= 31 the join KEYS are the 2-bit
  * packed longs of those canonical strings, computed in one fused scan
  * (injective, so set membership is unchanged — see [[fusedKey]]) and
  * plain strings beyond. All joins are
  * equality joins on the k-mer key; the candidate explosion is linear in
  * read length — no all-pairs anywhere.
  */
object ErrorCorrect extends QueryFamily {

  private def rc(c: Column): Column = reverse(translate(c, "ACGT", "TGCA"))
  private def canon(c: Column): Column = least(c, rc(c))

  // K-mer iteration is explode(sequence(1, L-k+1)) + a per-row
  // canon(substr(...)) — NOT transform(sequence(...), i => canon(...)):
  // higher-order array functions are CodegenFallback in Spark, and with
  // projection collapse the interpreted lambda re-evaluates its whole
  // input expression (e.g. the candidate-read concat) once per element —
  // measured 22 s of the original 24 s at sf0.1 in exactly that stage.
  // The explode+substr form stays inside whole-stage codegen. Reads
  // shorter than k are filtered before the sequence (Spark's sequence
  // DESCENDS for b < a).

  /** Fused k-mer join key at position `i` (1-based) of string column
    * `src`: for k <= 31 the codegen'd `canon_pack` packs the canonical
    * k-mer in ONE scan — no revcomp/least string allocations per k-mer
    * (this runs once per (read, position) and once per (candidate,
    * altered position): the hottest expressions in the corrector).
    * Injective on canonical k-mers at fixed k, so every join/anti-join
    * membership below is unchanged vs the string form the DuckDB oracle
    * computes. String-domain fallback beyond the packable width. */
  private def fusedKey(src: String, k: Int): Column =
    if (k <= 31) expr(s"canon_pack_at($src, i, $k)")
    else canon(col(src).substr(col("i"), lit(k)))

  /** The solid-k-mer spectrum of a read set: `(skv)` keyed canonical
    * k-mers (see [[fusedKey]]) with count >= `minSolid`. */
  def solidSpectrum(reads: DataFrame, k: Int, minSolid: Long): DataFrame = {
    graft.functions.GraftFunctions.register(reads.sparkSession)
    reads.filter(length(col("read")) >= k)
      .select(col("read"),
        explode(sequence(lit(1), length(col("read")) - (k - 1))).as("i"))
      .select(fusedKey("read", k).as("skv"))
      .groupBy("skv").agg(count(lit(1)).as("sc"))
      .filter(col("sc") >= minSolid)
      .select("skv")
  }

  /** Correct `reads` = `(read_id, read)` against their own spectrum.
    * Returns `(read_id, corrected, changed)` — `changed` 1 iff a
    * substitution strictly improved the solid covering-k-mer count. */
  def correctReads(reads: DataFrame, k: Int, minSolid: Long = 2L): DataFrame = {
    // two consumers (original-read anti-join + candidate scoring) — one
    // distributed materialization instead of two spectrum aggregations
    val solid = solidSpectrum(reads, k, minSolid).localCheckpoint()
    // the starts (1-based) of the original read's NON-solid k-mers; reads
    // whose every k-mer is solid vanish here and take the untouched
    // shortcut through the final left join
    val badStarts = reads
      .filter(length(col("read")) >= k)
      .select(col("read_id"), col("read"),
        explode(sequence(lit(1), length(col("read")) - (k - 1))).as("i"))
      .withColumn("km", fusedKey("read", k))
      .join(solid, col("km") === col("skv"), "left_anti")
      .groupBy("read_id", "read")
      .agg(collect_list(col("i")).as("bad"))
    // AQE sizes post-shuffle partitions by SHUFFLE bytes, but the
    // ~100x suspect->candidate->covering-k-mer fan-out happens AFTER this
    // exchange — left to the coalescer, the few-MB badStarts shuffle
    // lands on one partition and the whole candidate pipeline serializes
    // onto one task (measured: 15 s of p1's 18 s in a single-task stage).
    // Pin the fan-out width to the session's shuffle parallelism.
    val fanout = reads.sparkSession.conf
      .get("spark.sql.shuffle.partitions", "200") match {
        case "auto" => 200
        case n => n.toInt
      }
    // suspect positions = union of the bad k-mers' spans; oc (the original
    // base's covering solid count) is pure arithmetic on the bad list.
    // The spread key is (read_id, p) — deliberately FINER than any
    // upstream partitioning (a plain read_id repartition here is elided
    // as partitioning-equivalent when the caller's reads already arrive
    // hash-partitioned by read_id, resurrecting the single-task stage).
    val suspects = badStarts
      .select(col("read_id"), col("read"), col("bad"),
        explode(array_distinct(flatten(transform(col("bad"),
          i => sequence(i, least(i + (k - 1), length(col("read")))))))).as("p"))
      .withColumn("lo", greatest(lit(1), col("p") - (k - 1)))
      .withColumn("hi", least(col("p"), length(col("read")) - (k - 1)))
      .withColumn("oc", col("hi") - col("lo") + 1 -
        size(filter(col("bad"), i => i.between(col("lo"), col("hi")))))
    // 3 alternate bases per suspect position; only the ALTERED covering
    // k-mers need the solid lookup
    // candidate k-mer keys come straight off the ORIGINAL read via the
    // patched fused pack (canon_pack_sub) — the altered read string and
    // the per-k-mer substrings are never materialized. The earlier
    // concat-cand + substring form allocated ~3 objects per covering
    // k-mer row and its GC dominated this stage (measured at sf0.1:
    // 197 s of 604 s task time in GC on a bad pass; guide §1.2 per-task
    // work / §5 memory pressure). `cand` is rebuilt only for the single
    // winning row per read in the final projection below.
    val alt = suspects
      .repartition(fanout, col("read_id"), col("p"))
      .select(col("read_id"), col("read"), col("p"), col("oc"),
        explode(array(lit("A"), lit("C"), lit("G"), lit("T"))).as("b"))
      .filter(col("b") =!= col("read").substr(col("p"), lit(1)))
    val sc = alt
      .select(col("read_id"), col("p"), col("b"), col("oc"), col("read"),
        explode(sequence(greatest(lit(1), col("p") - (k - 1)),
          least(col("p"), length(col("read")) - (k - 1)))).as("i"))
      .withColumn("km",
        if (k <= 31) expr(s"canon_pack_sub(read, i, $k, p, b)")
        else canon(concat(
          col("read").substr(lit(1), col("p") - 1), col("b"),
          col("read").substr(col("p") + 1, length(col("read")) - col("p")))
          .substr(col("i"), lit(k))))
      .join(solid, col("km") === col("skv"), "left")
      .groupBy("read_id", "p", "b", "oc")
      .agg(sum(when(col("skv").isNotNull, 1).otherwise(0)).as("c"))
      .withColumn("delta", col("c") - col("oc"))
    val w = Window.partitionBy("read_id").orderBy(col("delta").desc, col("p"), col("b"))
    val winner = sc.filter(col("delta") > 0)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("read_id").as("wid"), col("p"), col("b"))
    reads.join(winner, col("read_id") === col("wid"), "left")
      .select(col("read_id"),
        when(col("wid").isNotNull, concat(
          col("read").substr(lit(1), col("p") - 1), col("b"),
          col("read").substr(col("p") + 1, length(col("read")) - col("p"))))
          .otherwise(col("read")).as("corrected"),
        when(col("wid").isNotNull, 1).otherwise(0).as("changed"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // -- spectrum correction end-to-end, with ground truth in-query --------
    // 9 overlapping 32-base reads per synthetic genome at 4-base offsets
    // (~4.5x coverage — dense enough that every interior k-mer is
    // re-sampled by >=2 error-free reads, which is what makes it solid);
    // reads (doc_id%5==0, rid==4) get a deterministic substitution error
    // at position 16 — a position every k-mer of that read covers, and
    // which neighbor reads re-sample, so the corrector must restore it.
    // `recovered` compares against the pre-corruption truth: the oracle
    // checks not just that both engines agree on the corrections but that
    // the corrections are RIGHT (an 8-base-offset first cut passed the
    // hash gate with changed=0 everywhere — a corrector that never fires
    // — precisely because correct k-mers had only 1-fold re-sampling).
    "p1_error_correct" -> ((s, d) => {
      val g = documents(s, d).select(col("doc_id"), Genomics.dna64(col("doc_id")).as("s"))
      val r0 = g.select(col("doc_id"),
          explode(sequence(lit(1), lit(33), lit(4))).as("i"), col("s"))
        .select(col("doc_id"), expr("(i-1) div 4").cast("long").as("rid"),
          col("s").substr(col("i"), lit(32)).as("tr"))
      val reads = r0.withColumn("read",
          when(col("doc_id") % 5 === 0 && col("rid") === 4,
            concat(col("tr").substr(lit(1), lit(15)),
              translate(col("tr").substr(lit(16), lit(1)), "ACGT", "CGTA"),
              col("tr").substr(lit(17), lit(16))))
            .otherwise(col("tr")))
        .withColumn("read_id", col("doc_id") * 16 + col("rid"))
      // the sf parquet is one split — spread the spectrum/candidate map
      // work across the session's parallelism (real FASTQ input arrives
      // pre-split; this mirrors that). By-NUM, not by-col: AQE coalesces
      // a by-col exchange to 1 partition on these few shuffle MB, blind
      // to the 100x k-mer fan-out downstream of it.
      val n = s.conf.get("spark.sql.shuffle.partitions", "32") match {
        case "auto" => 32; case v => v.toInt
      }
      val corr = correctReads(
        reads.select("read_id", "read").repartition(n, col("read_id")), 21, 2L)
      reads.join(corr, "read_id")
        .select(col("doc_id"), col("rid"), col("read"), col("corrected"),
          col("changed"),
          when(col("corrected") === col("tr"), 1).otherwise(0).as("recovered"))
    })
  )

  def oracles: Map[String, String] = Map(
    "p1_error_correct" ->
      """WITH g AS (SELECT doc_id,
        |    translate(md5(CAST(doc_id AS VARCHAR)), '0123456789abcdef', 'ACGTACGTACGTACGT')
        |    || translate(md5(CAST(doc_id AS VARCHAR) || 'x'), '0123456789abcdef', 'ACGTACGTACGTACGT') AS s
        |  FROM documents),
        |r0 AS (SELECT doc_id, CAST((i-1)//4 AS BIGINT) AS rid, substr(s, i, 32) AS tr
        |       FROM (SELECT doc_id, s, unnest(generate_series(1, 33, 4)) AS i FROM g)),
        |reads AS (SELECT doc_id*16 + rid AS read_id, doc_id, rid, tr,
        |    CASE WHEN doc_id % 5 = 0 AND rid = 4
        |      THEN substr(tr,1,15) || translate(substr(tr,16,1),'ACGT','CGTA') || substr(tr,17,16)
        |      ELSE tr END AS read
        |  FROM r0),
        |km AS (SELECT least(substr(read,i,21), reverse(translate(substr(read,i,21),'ACGT','TGCA'))) AS kmer
        |       FROM (SELECT read, unnest(generate_series(1, 12)) AS i FROM reads)),
        |solid AS (SELECT kmer FROM km GROUP BY kmer HAVING COUNT(*) >= 2),
        |pos AS (SELECT read_id, read, unnest(generate_series(1, 32)) AS p FROM reads),
        |cand AS (SELECT read_id, read, p, b,
        |    substr(read,1,p-1) || b || substr(read,p+1, 32-p) AS cand
        |  FROM pos, (SELECT unnest(['A','C','G','T']) AS b) bases),
        |ckm AS (SELECT read_id, read, p, b, cand,
        |    least(substr(cand,i,21), reverse(translate(substr(cand,i,21),'ACGT','TGCA'))) AS kmer
        |  FROM (SELECT read_id, read, p, b, cand,
        |          unnest(generate_series(greatest(1, p-20), least(p, 12))) AS i
        |        FROM cand)),
        |sc AS (SELECT c.read_id, c.read, c.p, c.b, c.cand,
        |    SUM(CASE WHEN s.kmer IS NOT NULL THEN 1 ELSE 0 END) AS c
        |  FROM ckm c LEFT JOIN solid s ON c.kmer = s.kmer
        |  GROUP BY c.read_id, c.read, c.p, c.b, c.cand),
        |o AS (SELECT read_id, p, c AS oc FROM sc WHERE b = substr(read, p, 1)),
        |alt AS (SELECT sc.*, sc.c - o.oc AS delta
        |        FROM sc JOIN o ON sc.read_id = o.read_id AND sc.p = o.p
        |        WHERE sc.b <> substr(sc.read, sc.p, 1)),
        |best AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY read_id
        |           ORDER BY delta DESC, p, b) AS rn FROM alt)
        |SELECT r.doc_id, r.rid, r.read,
        |  CASE WHEN b2.delta > 0 THEN b2.cand ELSE r.read END AS corrected,
        |  CASE WHEN b2.delta > 0 THEN 1 ELSE 0 END AS changed,
        |  CASE WHEN (CASE WHEN b2.delta > 0 THEN b2.cand ELSE r.read END) = r.tr
        |    THEN 1 ELSE 0 END AS recovered
        |FROM reads r JOIN best b2 ON r.read_id = b2.read_id AND b2.rn = 1""".stripMargin
  )
}
