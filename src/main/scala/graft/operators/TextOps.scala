package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Text-analysis layer: token statistics, quality scoring, heuristic
  * language ID, document fingerprints, and character n-gram profiles —
  * all pure Catalyst expressions (no UDFs), so they stay inside
  * whole-stage codegen and push down column pruning to the scan.
  */
object TextOps extends QueryFamily {

  private def ws: Column = split(col("text"), " ")

  /** Per-doc bigram-LM surprisal in INTEGER bits (t25/t35): tf = per-doc
    * bigram counts, c2/c1 = corpus bigram/unigram totals, and the
    * per-bigram surprisal -log2 P(b|a) is approximated integer-exactly as
    * bitlength(c1) - bitlength(c2) so both engines agree bit-for-bit.
    * Aggregation ladder is all hash aggregates with map-side combine;
    * the bigram relation is the only corpus-sized intermediate. */
  private def surprisalPerDoc(docs: DataFrame): DataFrame = {
    val byPos = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("i")
    val big = docs
      .select(col("doc_id"), posexplode(ws).as(Seq("i", "w")))
      .withColumn("b", lead("w", 1).over(byPos))
      .filter(col("b").isNotNull)
      .select(col("doc_id"), col("w").as("a"), col("b"))
    val tf = big.groupBy("doc_id", "a", "b").agg(count(lit(1)).as("tf"))
    val c2 = tf.groupBy("a", "b").agg(sum(col("tf")).as("c2"))
    val c1 = c2.groupBy("a").agg(sum(col("c2")).as("c1"))
    tf.join(c2, Seq("a", "b")).join(c1, Seq("a"))
      .groupBy("doc_id")
      .agg(sum(col("tf")).as("n_bigrams"),
        sum(col("tf") * (length(bin(col("c1"))) - length(bin(col("c2")))))
          .as("surprisal_bits"))
  }

  /** Frequency-ranked vocabulary `(tok, n, id)` — id 1 = most frequent,
    * count-desc / token-asc tie-break. Ranking uses a range-partitioned
    * distributed sort + `zipWithIndex` (one tiny count job turns
    * per-partition positions into exact global ranks — the same P11
    * pattern as [[graft.sources.Fastq.formatFasta]]), NOT a global
    * `Window.orderBy`: Spark plans an empty-partition window as ONE task
    * holding every distinct token, which at web scale (1e8-1e9 distinct
    * tokens) is a single-machine sort of the whole vocabulary. */
  private def rankedVocab(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    documents(s, d).select(explode(ws).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("n"))
      .filter(col("n") >= 5)
      .orderBy(col("n").desc, col("tok"))
      .as[(String, Long)]
      .rdd.zipWithIndex()
      .map { case ((tok, n), i) => (tok, n, i + 1) }
      .toDF("tok", "n", "id")
  }

  /** DSIR hashed-n-gram importance weights (Xie et al., NeurIPS 2023)
    * over any `(doc_id, lang, text)` frame: hashed-bigram bag
    * distributions are fit on the `targetLang` docs (p) and the rest (q),
    * and every doc is weighted by its per-gram log-likelihood ratio —
    * quantized to integer bit-lengths (the t18/t25 trick) so the weight
    * is engine-exact. Returns `(doc_id, n_grams, logw_bits)`, one row per
    * input doc (gramless docs carry 0/0). Scale shape: the gram stream
    * collapses to per-(doc, bucket) counts FIRST (map-side combinable);
    * p/q are 256-row broadcast tables, the normalizers 1-row broadcast
    * scalars — nothing past the first aggregation scales with corpus
    * volume, and the hashed feature space stays fixed no matter how
    * large the vocabulary grows (DSIR's own design point). Consumed by
    * the t30 query and [[Curation.curate]]'s `dsir_keep` stage. */
  def dsirWeights(docs: DataFrame, targetLang: String): DataFrame = {
    val tf = Shingles.wordNGramsPosKeyed(
        docs.select(col("doc_id"), col("lang"), col("text")), 2, keyCol = "lang")
      .select(col("doc_id"), col("lang"),
        substring(md5(col("sh").cast("binary")), 1, 2).as("bucket"))
      .groupBy("doc_id", "lang", "bucket").agg(count(lit(1)).as("tf"))
    val p = tf.filter(col("lang") === targetLang)
      .groupBy("bucket").agg(sum("tf").as("p"))
    val q = tf.filter(col("lang") =!= targetLang)
      .groupBy("bucket").agg(sum("tf").as("q"))
    val np = p.agg(sum("p").as("np"))
    val nq = q.agg(sum("q").as("nq"))
    val perDoc = tf
      .join(broadcast(p), Seq("bucket"), "left")
      .join(broadcast(q), Seq("bucket"), "left")
      .crossJoin(broadcast(np)).crossJoin(broadcast(nq))
      .withColumn("dbits",
        length(bin(coalesce(col("p"), lit(0L)) + 1)) -
          length(bin(coalesce(col("q"), lit(0L)) + 1)) +
          length(bin(col("nq") + 256)) - length(bin(col("np") + 256)))
      .groupBy("doc_id")
      .agg(sum(col("tf")).as("n_grams"),
        sum(col("tf") * col("dbits")).as("logw_bits"))
    docs.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("logw_bits"), lit(0L)).as("logw_bits"))
  }

  /** The DSIR oracle as a reusable SQL CTE chain — ONE source of truth
    * for the hashed-bigram bucket expression and the integer bit-length
    * weight arithmetic, parameterized by the source relation so the t30
    * oracle (over `documents`) and the c5 curation oracle (over its
    * `train` CTE) can never silently drift apart. Emits CTEs
    * `{pre}g/{pre}tf/{pre}p/{pre}q/{pre}np/{pre}nq/{pre}per`, the last
    * one `(doc_id, n_grams, logw_bits)`; the caller supplies the WITH
    * header, trailing comma, and final SELECT. */
  def dsirOracleCtes(rel: String, target: String, pre: String = ""): String =
    s"""${pre}g AS (SELECT doc_id, lang,
       |         substring(md5(ws[i] || ' ' || ws[i+1]), 1, 2) AS bucket
       |       FROM (SELECT doc_id, lang, string_split(text, ' ') AS ws,
       |               unnest(generate_series(1, len(string_split(text, ' ')) - 1)) AS i
       |             FROM $rel)),
       |${pre}tf AS (SELECT doc_id, lang, bucket, COUNT(*) AS tf
       |       FROM ${pre}g GROUP BY doc_id, lang, bucket),
       |${pre}p AS (SELECT bucket, CAST(SUM(tf) AS BIGINT) AS p FROM ${pre}tf
       |      WHERE lang = '$target' GROUP BY bucket),
       |${pre}q AS (SELECT bucket, CAST(SUM(tf) AS BIGINT) AS q FROM ${pre}tf
       |      WHERE lang <> '$target' GROUP BY bucket),
       |${pre}np AS (SELECT CAST(SUM(p) AS BIGINT) AS np FROM ${pre}p),
       |${pre}nq AS (SELECT CAST(SUM(q) AS BIGINT) AS nq FROM ${pre}q),
       |${pre}per AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_grams,
       |          CAST(SUM(tf * (length(bin(coalesce(p, 0) + 1))
       |                         - length(bin(coalesce(q, 0) + 1))
       |                         + length(bin(nq + 256))
       |                         - length(bin(np + 256)))) AS BIGINT) AS logw_bits
       |        FROM ${pre}tf LEFT JOIN ${pre}p USING (bucket) LEFT JOIN ${pre}q USING (bucket)
       |             CROSS JOIN ${pre}np CROSS JOIN ${pre}nq
       |        GROUP BY doc_id)""".stripMargin

  private def tokenCountIn(set: Seq[String]): Column =
    size(filter(ws, w => w.isInCollection(set)))

  private val enWords = Seq("the", "a", "of", "and", "in", "to")
  private val deWords = Seq("der", "und", "die", "das", "ein")
  private val esWords = Seq("el", "la", "de", "los", "que")
  private val frWords = Seq("le", "la", "et", "les", "des")

  /** Operators whose reference computation has NO DuckDB SQL twin — gated
    * by the LOCAL harness only (tools/oracle_check.py computes the
    * reference in Python; CompressRatioSpec pins the deflate-stream
    * parity in-suite). Kept out of [[queries]] so the driver's SQL-only
    * gate records zero `no_oracle` rows: the driver contract says
    * "omit for non-SQL-expressible ops", and a permanently-weak row
    * conveys less than a separate, fully-gated local surface. Bench and
    * ClusterSmoke still cover these. */
  override def localQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // deflate compression ratio (zlib level 6) per document — the
    // classic repetition/quality signal. Python-zlib oracle in
    // tools/oracle_check.py; byte-size parity Deflater-vs-zlib pinned by
    // CompressRatioSpec.
    "t20_compress_ratio" -> ((s, d) => {
      import s.implicits._
      documents(s, d).select(col("doc_id"), col("text")).as[(Long, String)]
        .mapPartitions { it =>
          val deflater = new java.util.zip.Deflater(6)
          val buf = new Array[Byte](1 << 16)
          it.map { case (id, text) =>
            val in = text.getBytes("UTF-8")
            deflater.reset()
            deflater.setInput(in)
            deflater.finish()
            var out = 0L
            while (!deflater.finished()) out += deflater.deflate(buf)
            (id, in.length.toLong, out,
              math.rint(out.toDouble / math.max(in.length, 1) * 10000) / 10000)
          }
        }
        .toDF("doc_id", "n_bytes", "n_compressed", "ratio")
        .withColumn("repetitive", (col("ratio") < 0.35).cast("int"))
    }))

  /** t36 BPE-training internals. A word's symbol sequence is encoded as a
    * DOUBLE-space-delimited string (`"  l  o  w  "`): applying merge
    * (A, B) is then a plain string `replace(" A  B ", " AB ")` whose
    * left-to-right non-overlapping semantics (identical in Spark's
    * UTF8String and DuckDB) are EXACTLY greedy BPE — the pattern consumes
    * one of the two boundary spaces on each side, so adjacent occurrences
    * in a run ("a a a a" -> "aa aa") still match, while symbol-prefix
    * false positives ("a ab") cannot (the trailing space requires a full
    * symbol boundary). Training state is the word-TYPE table (vocab-sized,
    * persisted once — never the corpus), each iteration is one partial-agg
    * pair count + a rank-1 TakeOrdered (no global sort) + one more codegen
    * replace stacked on the state expression; only K merge rows ever reach
    * the driver. At a production K (~30k) one would re-materialize the
    * state every few hundred merges to bound the expression chain; at the
    * gated K=8 the chain is the cheaper form. */
  private[graft] def bpeState0(docs: DataFrame): DataFrame =
    docs.select(explode(ws).as("w"))
      .filter(col("w").rlike("^[a-z]{2,}$"))
      .groupBy("w").agg(count(lit(1)).as("f"))
      .select(col("w"),
        concat(lit("  "), regexp_replace(col("w"), "(.)", "$1  ")).as("st"),
        col("f"))

  /** Weighted adjacent-pair counts over the current symbol state: one
    * map-side-combinable hash aggregate, pair displayed single-spaced.
    * The pair ARRAY is built inside one transform() per word and only the
    * pairs explode — exploding an index and carrying the symbol list per
    * row would duplicate the whole list O(len) times, which on a single
    * 40k-char repeat-run word is a multi-GB row blowup (the patho corpus
    * catches it; DuckDB's oracle needs the same discipline). */
  private[graft] def bpePairCounts(state: DataFrame): DataFrame =
    state.select(split(col("st"), "  ").as("l"), col("f"))
      // wrapped split yields '' sentinels at both ends: symbols live at
      // 2..len-1, pairs at 2..len-2 — and the when() guard matters because
      // Spark's sequence(2, 1) would count DOWN, not come back empty
      .select(explode(when(size(col("l")) >= 4,
        expr("transform(sequence(2, size(l) - 2), " +
          "i -> concat(element_at(l, i), ' ', element_at(l, i + 1)))"))
        .otherwise(array().cast("array<string>"))).as("pair"), col("f"))
      .groupBy("pair").agg(sum(col("f")).as("n"))

  /** Iterate K merges; ties broken (count desc, pair asc) in both engines. */
  private[graft] def bpeTrain(docs: DataFrame, k: Int): Seq[(Int, String, Long)] = {
    val s0 = bpeState0(docs)
    s0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try bpeTrainOn(s0, k) finally { s0.unpersist(); () }
  }

  /** [[bpeTrain]] over an already-built (and caller-persisted) word-type
    * state — split out (r14) so a composite consumer (c7's fertility
    * gate: train, then ENCODE the same vocabulary) builds the corpus-scale
    * explode + word-type aggregation exactly once instead of twice. */
  private[graft] def bpeTrainOn(s0: DataFrame, k: Int): Seq[(Int, String, Long)] = {
    var cur = s0
    val merges = Seq.newBuilder[(Int, String, Long)]
    var step = 1
    var dry = false
    while (step <= k && !dry) {
      val top = bpePairCounts(cur)
        .orderBy(col("n").desc, col("pair")).limit(1).collect()
      if (top.isEmpty) dry = true
      else {
        val pair = top.head.getString(0)
        val n = top.head.getLong(1)
        val Array(a, b) = pair.split(' ')
        merges += ((step, pair, n))
        cur = cur.select(
          replace(col("st"), lit(s" $a  $b "), lit(s" $a$b ")).as("st"),
          col("f"))
        step += 1
      }
    }
    merges.result()
  }

  /** Train K merges AND apply them to the same word-type state: the
    * shared train→encode replay (t37/t38/c7). The state is built ONCE
    * and localCheckpointed (vocab-sized — tiny), where the previous
    * composition ran the corpus-scale explode + word-type aggregation a
    * second time for the encode (r14, guide §1.2: don't compute things
    * twice). Returns the encoded `(w, st, f)` frame. */
  private[graft] def bpeTrainEncode(docs: DataFrame, k: Int): DataFrame = {
    val s0 = bpeState0(docs).localCheckpoint()
    val merges = bpeTrainOn(s0, k)
    merges.foldLeft(s0) { case (df, (_, pair, _)) =>
      val Array(a, b) = pair.split(' ')
      df.withColumn("st",
        replace(col("st"), lit(s" $a  $b "), lit(s" $a$b ")))
    }
  }

  /** The DuckDB twin is K generated chained CTEs — same encoding, same
    * replace, same tie-break. Pair extraction mirrors the engine's
    * discipline: build the pair LIST once per word inside list_transform
    * and unnest only that (unnesting an index while re-slicing the symbol
    * list per row duplicates the list O(len) times — tens of GB on the
    * patho corpus's 40k-char repeat-run word). State CTEs are MATERIALIZED
    * (each is referenced twice; inlining would re-evaluate the whole
    * chain exponentially). The s$i state falls back to s$p when m$i is
    * EMPTY (LEFT JOIN + CASE): on a corpus whose training dries before K
    * merges the engine stops and keeps the realized encoding, so the
    * oracle's state chain must carry through too — the old cross join
    * emptied every later CTE and t37 diverged on degenerate corpora
    * (ADVICE r11; patho --vocab-dry pins the parity). */
  /** The K-merge ladder as bare CTEs (`wf, s0, p1, m1, s1, ... s$k`) over
    * `table` — shared with [[Curation]]'s c7 fertility gate so the
    * train+apply replay cannot drift from t36/t37's oracle. */
  private[operators] def bpeLadderCtes(k: Int, table: String): String = {
    val head =
      s"""wf AS MATERIALIZED (
        |  SELECT w, COUNT(*) AS f
        |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM $table) t
        |  WHERE regexp_matches(w, '^[a-z]{2,}$$') GROUP BY w),
        |s0 AS MATERIALIZED (SELECT w, '  ' || regexp_replace(w, '(.)', '\\1  ', 'g') AS st, f FROM wf)""".stripMargin
    val iters = (1 to k).map { i =>
      val p = i - 1
      s"""p$i AS (SELECT pair, SUM(f) AS n FROM (
         |    SELECT unnest(list_transform(
         |             generate_series(2, len(l) - 2),
         |             i -> l[i] || ' ' || l[i+1])) AS pair, f
         |    FROM (SELECT string_split(st, '  ') AS l, f FROM s$p)
         |    WHERE len(l) >= 4) GROUP BY pair),
         |m$i AS MATERIALIZED (SELECT pair, n FROM p$i ORDER BY n DESC, pair LIMIT 1),
         |s$i AS MATERIALIZED (SELECT w,
         |          CASE WHEN pair IS NULL THEN st
         |               ELSE replace(st, ' ' || split_part(pair, ' ', 1) || '  ' || split_part(pair, ' ', 2) || ' ',
         |                      ' ' || replace(pair, ' ', '') || ' ') END AS st, f
         |        FROM s$p LEFT JOIN m$i ON TRUE)""".stripMargin
    }.mkString(",\n", ",\n", "")
    head + iters
  }

  private def bpeOracle(k: Int): String = {
    val tail = (1 to k)
      .map(i => s"SELECT $i AS step, pair, CAST(n AS BIGINT) AS n FROM m$i")
      .mkString(" UNION ALL ")
    "WITH " + bpeLadderCtes(k, "documents") + "\n" + tail
  }

  /** t38's packing core over any `(source, doc_id, n_tok)` frame: docs
    * laid end-to-end per source in doc_id order and cut into fixed
    * `seqLen`-token training rows. One row per (sequence, segment):
    * `(source, seq, doc_id, tok_start, n_tok, loss_mask, doc_start,
    * doc_end)` — the doc-boundary metadata an attention-mask/loss-mask
    * builder consumes — plus one `doc_id = -1, loss_mask = 0` PAD segment
    * closing each source's final partial row. Docs SPAN row boundaries
    * (the standard pretraining pack: an EOD-separated stream, not
    * first-fit bins — bin placement is a sequential recurrence with no
    * distributed or SQL-window form). Scale shape = t14/t15: the cumsum
    * window partitions by source, the segment fan-out is a per-row
    * sequence+explode, and the pad table is one tiny per-source
    * aggregate — nothing is corpus-global. Parallelism is bounded by the
    * source count; a corpus dominated by ONE giant source would swap the
    * window for the two-phase per-partition-offset cumsum (per-partition
    * token sums collected once, offsets broadcast back — the FASTA sink's
    * distributed-id pattern, t14's documented escape hatch) without
    * changing a single downstream expression, since only `cum_end` is
    * window-derived. */
  private[graft] def packSegments(perDoc: DataFrame, seqLen: Long): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("doc_id"))
    val spans = perDoc
      .withColumn("cum_end", sum(col("n_tok")).over(w))
      .withColumn("cum_start", col("cum_end") - col("n_tok"))
    val body = spans
      .select(col("source"), col("doc_id"), col("cum_start"), col("cum_end"),
        explode(expr(s"sequence(cum_start div $seqLen, (cum_end - 1) div $seqLen)"))
          .as("seq"))
      .select(col("source"), col("seq"), col("doc_id"),
        greatest(col("cum_start") - col("seq") * seqLen, lit(0L)).as("tok_start"),
        (least(col("cum_end"), (col("seq") + 1) * seqLen) -
          greatest(col("cum_start"), col("seq") * seqLen)).as("n_tok"),
        lit(1).as("loss_mask"),
        (col("cum_start") >= col("seq") * seqLen).cast("int").as("doc_start"),
        (col("cum_end") <= (col("seq") + 1) * seqLen).cast("int").as("doc_end"))
    val pad = spans.groupBy(col("source")).agg(max(col("cum_end")).as("total"))
      .filter(col("total") % seqLen =!= 0)
      .select(col("source"), expr(s"(total - 1) div $seqLen").as("seq"),
        lit(-1L).as("doc_id"), (col("total") % seqLen).as("tok_start"),
        (lit(seqLen) - col("total") % seqLen).as("n_tok"),
        lit(0).as("loss_mask"), lit(0).as("doc_start"), lit(0).as("doc_end"))
    body.unionByName(pad)
  }

  /** t37's twin: the SAME K-merge chain, but the answer is the ENCODED
    * word table after the final merge (token count per word type). */
  private def bpeEncodeOracle(k: Int): String = {
    val ladder = bpeOracle(k)
    val chain = ladder.substring(0, ladder.lastIndexOf("\nSELECT 1 AS step"))
    chain +
      s"\nSELECT w, f, CAST(len(string_split(st, '  ')) - 2 AS BIGINT) AS n_tokens," +
      s" CAST(length(w) AS BIGINT) AS n_chars FROM s$k"
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // -- t36: iterated BPE training to a vocab budget ------------------------
    // t26 proves ONE merge step; this is the tokenizer-training pipeline:
    // K rank-1 merges, each a full pair-count aggregate over the (vocab-
    // sized, persisted) word-type state + a codegen'd replace. The gated
    // output is the merge LADDER itself — (step, pair, count) — i.e. the
    // artifact a tokenizer ships. Spec-pinned against the classic
    // low/lower/newest/widest hand example.
    "t36_bpe_train" -> ((s, d) => {
      val ladder = bpeTrain(documents(s, d), 8)
      import s.implicits._
      ladder.toDF("step", "pair", "n")
    }),

    // -- t37: tokenizer APPLY — encode the corpus with t36's merges ----------
    // the other half of the train→apply loop: the K learned merges are a
    // tiny driver-side table (what a tokenizer ships); applying them is a
    // chain of K codegen'd replaces over the word-TYPE table — no
    // re-aggregation, no shuffle beyond the vocab groupBy, and the
    // per-word token count is the fertility statistic tokenizer evals
    // report. The twin replays the identical chain in SQL and reads the
    // encoded table after the final merge.
    "t37_bpe_encode" -> ((s, d) => {
      val encoded = bpeTrainEncode(documents(s, d), 8)
      encoded.select(col("w"), col("f"),
        (size(split(col("st"), "  ")) - 2).cast("long").as("n_tokens"),
        length(col("w")).cast("long").as("n_chars"))
    }),

    // -- t38: sequence packing of the BPE-TOKENIZED corpus (VERDICT r12
    // #4) — the export step between t31's shards and a training run:
    // docs are measured in t37's learned-tokenizer units (per-word token
    // counts from the encoded word-TYPE table; words outside the trainer's
    // ^[a-z]{2,}$ domain count 1 token each, the single-byte-fallback
    // convention), then packed end-to-end per source in doc_id order into
    // fixed 512-token training rows with doc-boundary + loss-mask
    // segments ([[packSegments]]). t14 packs WHITESPACE counts; this is
    // the real thing a trainer consumes — tokenizer-exact lengths — and
    // the oracle replays train→encode→measure→pack through the SHARED
    // [[bpeLadderCtes]] ladder (c7's precedent), so engine and oracle
    // token counts cannot drift. Scale: the encoded table is vocab-sized
    // (one equi-join), everything after is t14's per-source window.
    "t38_sequence_pack" -> ((s, d) => {
      val docs = documents(s, d)
      val encoded = bpeTrainEncode(docs, 8)
      val enc = encoded.select(col("w"),
        (size(split(col("st"), "  ")) - 2).cast("long").as("ntw"))
      val perDoc = docs
        .select(col("source"), col("doc_id"), explode(ws).as("w"))
        .join(enc, Seq("w"), "left")
        .groupBy(col("source"), col("doc_id"))
        .agg(sum(coalesce(col("ntw"), lit(1L))).as("n_tok"))
      packSegments(perDoc, 512L)
    }),

    // -- token counting (whitespace + distinct + max token length) ---------
    "t1_token_stats" -> ((s, d) =>
      documents(s, d).select(
        col("doc_id"),
        size(ws).as("n_tokens"),
        size(array_distinct(ws)).as("n_distinct"),
        array_max(transform(ws, w => length(w))).as("max_tok_len"),
        length(col("text")).as("n_chars_actual"))),

    // -- quality scoring: stopword ratio, distinct ratio, length guards ----
    "t2_quality" -> ((s, d) => {
      val nt = size(ws)
      val sw = tokenCountIn(enWords)
      val dr = round(size(array_distinct(ws)).cast("double") / nt, 4)
      documents(s, d).select(
        col("doc_id"),
        nt.as("n_tokens"),
        sw.as("n_stopwords"),
        round(sw.cast("double") / nt, 4).as("stopword_ratio"),
        dr.as("distinct_ratio"),
        when(nt.between(10, 2000) && sw >= 1, 1).otherwise(0).as("quality_ok"))
    }),

    // -- heuristic language ID: stopword-list votes, deterministic argmax --
    "t3_langid" -> ((s, d) => {
      val en = tokenCountIn(enWords); val de = tokenCountIn(deWords)
      val es = tokenCountIn(esWords); val fr = tokenCountIn(frWords)
      documents(s, d).select(
        col("doc_id"), col("lang"),
        en.as("en_score"), de.as("de_score"), es.as("es_score"), fr.as("fr_score"),
        when(en >= de && en >= es && en >= fr, "en")
          .when(de >= es && de >= fr, "de")
          .when(es >= fr, "es")
          .otherwise("fr").as("predicted"))
    }),

    // -- fingerprints: exact hash + order-insensitive bag hash -------------
    "t4_fingerprint" -> ((s, d) =>
      documents(s, d).select(
        col("doc_id"),
        md5(col("text").cast("binary")).as("exact_fp"),
        md5(concat_ws(" ", array_sort(array_distinct(ws))).cast("binary")).as("bag_fp"),
        (length(col("text")).cast("long") / 100).cast("long").as("len_bucket"))),

    // -- rolling-hash fingerprint (native expression, order-sensitive) -----
    "t6_rolling_fp" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      documents(s, d).selectExpr("doc_id", "rolling_hash(text) AS fp")
    }),

    // -- BPE-ish regex token counting (words / numbers / punct) ------------
    "t7_bpe_tokens" -> ((s, d) =>
      documents(s, d).select(
        col("doc_id"),
        regexp_count(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]")).as("n_bpe"),
        size(split(col("text"), " ")).as("n_ws"))),

    // -- overlapping token-window chunking (training-data prep) ------------
    // 50-token chunks, stride 40 (10-token overlap between neighbors)
    "t8_chunking" -> ((s, d) => {
      documents(s, d)
        .select(col("doc_id"), ws.as("w"))
        .select(col("doc_id"), col("w"),
          explode(expr("sequence(1, size(w), 40)")).as("start"))
        .select(col("doc_id"),
          (((col("start") - 1) / 40).cast("long")).as("chunk_id"),
          concat_ws(" ", slice(col("w"), col("start"), lit(50))).as("chunk"),
          least(size(col("w")) - col("start") + 1, lit(50)).cast("long").as("chunk_tokens"))
    }),

    // -- deterministic per-source stratified sampling ----------------------
    // "random" order = md5 of the id: reproducible training-mix sampling
    "t9_stratified_sample" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("source"))
        .orderBy(md5(col("doc_id").cast("string").cast("binary")), col("doc_id"))
      documents(s, d)
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .select(col("source"), col("doc_id"), col("rk").cast("long").as("rk"))
    }),

    // -- deterministic train/val/test split --------------------------------
    // the id-hash split every training pipeline runs: md5 bucket 0..255
    // (two hex digits, pure ascii arithmetic in both engines) → ~5% test,
    // ~5% val, 90% train. Hash-of-id, NOT random(): the assignment is
    // reproducible across runs/engines and stable under corpus growth
    // (new docs never move old ones between splits). Shuffle-free until
    // the 3-row report aggregation.
    "t23_split" -> ((s, d) => {
      val h = md5(col("doc_id").cast("string").cast("binary"))
      def hv(i: Int): Column = {
        val a = ascii(substring(h, i, 1))
        a - when(a >= 97, 87).otherwise(48)
      }
      val bucket = hv(1) * 16 + hv(2)
      val part = when(bucket < 13, "test").when(bucket < 26, "val")
        .otherwise("train")
      documents(s, d)
        .select(part.as("part"), size(split(col("text"), " ")).as("nt"))
        .groupBy("part")
        .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"))
    }),

    // -- within-doc duplicate-3-gram stripping -----------------------------
    // t12 FLAGS repetitious docs; this trims them: every token that
    // STARTS a 3-gram already seen earlier in the same doc is dropped,
    // keeping the first occurrence (the Gopher-style duplicated-content
    // removal, as an actual rewrite). All three windows partition by
    // doc_id (+gram) — bounded by DOCUMENT length, never corpus size —
    // and the ordered reassembly is a per-doc sort_array over collected
    // (pos, token) structs.
    "t24_dup_gram_strip" -> ((s, d) => {
      val byPos = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy("i")
      val tok = documents(s, d)
        .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("i", "w")))
      val g = tok.withColumn("g",
        when(lead("w", 2).over(byPos).isNotNull,
          concat_ws(" ", col("w"), lead("w", 1).over(byPos),
            lead("w", 2).over(byPos))))
      val occ = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id", "g").orderBy("i")
      g.withColumn("rn",
          when(col("g").isNotNull, row_number().over(occ)).otherwise(1))
        .filter(col("g").isNull || col("rn") === 1)
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_kept"),
          expr("array_join(transform(sort_array(collect_list(struct(i, w)))," +
            " x -> x.w), ' ')").as("cleaned"))
    }),

    // -- character trigram profile per language ----------------------------
    "t5_trigrams" -> ((s, d) =>
      documents(s, d)
        .filter(length(col("text")) >= 3) // sequence() descends on shorter
        .select(col("lang"), col("text"),
          explode(sequence(lit(1), length(col("text")) - 2)).as("i"))
        .select(col("lang"), expr("substring(text, i, 3)").as("g"))
        .groupBy("lang", "g").count()
        .filter(col("count") >= 50)),

    // -- test-set decontamination via 5-gram overlap -----------------------
    // docs with doc_id % 100 == 0 form the held-out "benchmark"; the
    // training corpus is everything else plus injected contaminated copies
    // (id + 300000, last 2 words dropped) the filter must flag. The test
    // shingle set is fixed-size regardless of corpus scale, so it is
    // explicitly broadcast — the training side is one scan + one hash agg.
    "t10_decontaminate" -> ((s, d) => {
      val doc = documents(s, d)
      val testDocs = doc.filter(col("doc_id") % 100 === 0)
      val trainDocs = doc.filter(col("doc_id") % 100 =!= 0)
        .select(col("doc_id"), col("text"))
        .union(testDocs.select((col("doc_id") + 300000).as("doc_id"),
          concat_ws(" ", slice(ws, lit(1), greatest(size(ws) - 2, lit(1)))).as("text")))
      def sh5(df: DataFrame): DataFrame = Shingles.wordNGrams(df, 5)
      val testSh = sh5(testDocs).select("sh").distinct()
      // join BEFORE dedup: the broadcast join keeps only matching shingles
      // (a tiny fraction of the corpus), so the distinct shuffles hits,
      // not the whole training shingle table
      sh5(trainDocs)
        .join(broadcast(testSh), "sh")
        .distinct()
        .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
    }),

    // -- PII scrubbing: count + redact emails and phone-like numbers -------
    // deterministic PII is appended to every doc (both engines build the
    // same augmented text) so the scrubber always has work to verify
    "t11_pii_scrub" -> ((s, d) => {
      val aug = concat(col("text"), lit(" contact user"), col("doc_id"),
        lit("@example.com or call 555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"), lit(" now"))
      val email = "[a-z0-9._-]+@[a-z0-9.-]+\\.[a-z][a-z]+"
      val phone = "555-[0-9][0-9][0-9][0-9]"
      documents(s, d).select(
        col("doc_id"),
        regexp_count(aug, lit(email)).as("n_emails"),
        regexp_count(aug, lit(phone)).as("n_phones"),
        regexp_replace(regexp_replace(aug, email, "<EMAIL>"), phone, "<PHONE>")
          .as("clean"))
    }),

    // -- per-domain corpus stats via URL extraction ------------------------
    // a deterministic URL is appended per doc (both engines agree); the
    // domain mix report is the standard curation view for source weighting
    "t13_url_stats" -> ((s, d) => {
      val aug = concat(col("text"), lit(" see https://site"),
        (col("doc_id") % 50), lit(".example.org/p/"), col("doc_id"))
      documents(s, d)
        .select(col("doc_id"), size(ws).as("nt"),
          regexp_extract(aug, "https://([a-z0-9.-]+)/", 1).as("domain"))
        .groupBy("domain")
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"),
          round(avg(col("nt")), 2).as("avg_tokens"))
    }),

    // -- sequence packing (concat-and-chunk): docs laid end-to-end per
    // source in doc_id order, cut into fixed 1024-token training
    // sequences. Output = the doc -> sequence map (which sequence a doc
    // starts/ends in, and its offset inside the first one). The cumsum
    // window partitions by source, so packing parallelizes across the
    // corpus's shards; a single giant source would instead use the
    // two-phase per-partition-offset cumsum (same pattern as the FASTA
    // sink's distributed ids).
    "t14_seq_packing" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source")).orderBy(col("doc_id"))
      documents(s, d)
        .select(col("source"), col("doc_id"), size(ws).cast("long").as("nt"))
        .withColumn("cum_end", sum(col("nt")).over(w))
        .select(col("source"), col("doc_id"), col("nt").as("n_tokens"),
          expr("(cum_end - nt) div 1024").as("seq_first"),
          expr("(cum_end - 1) div 1024").as("seq_last"),
          ((col("cum_end") - col("nt")) % 1024).as("seq_offset"))
    }),

    // -- packing fill report: per training sequence, how many docs
    // contribute and how full it is (the curation view that catches
    // budget misconfiguration: too-long docs spanning many sequences or
    // trailing sequences mostly padding) -----------------------------------
    "t15_pack_fill" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source")).orderBy(col("doc_id"))
      documents(s, d)
        .select(col("source"), col("doc_id"), size(ws).cast("long").as("nt"))
        .withColumn("cum_end", sum(col("nt")).over(w))
        .withColumn("cum_start", col("cum_end") - col("nt"))
        .select(col("source"), col("cum_start"), col("cum_end"),
          explode(expr("sequence(cum_start div 1024, (cum_end - 1) div 1024)")).as("seq"))
        .groupBy(col("source"), col("seq"))
        .agg(count(lit(1)).as("n_docs"),
          sum(least(col("cum_end"), (col("seq") + 1) * 1024) -
            greatest(col("cum_start"), col("seq") * 1024)).as("n_tokens"))
    }),

    // -- TF-IDF: top-3 terms per doc -----------------------------------------
    // the standard relevance/keyword-extraction score. tf from one per-doc
    // explode+agg; df is a corpus-wide hash agg joined back (16-byte term
    // keys); idf = ln(N/df) on exact integer ratios. Top-3 via window with
    // a full deterministic tiebreak (score desc, term asc).
    "t16_tfidf" -> ((s, d) => {
      val docs = documents(s, d)
      val n = docs.count() // corpus size: one tiny job, broadcast as literal
      val tf = docs.select(col("doc_id"), explode(ws).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
        .orderBy(col("score").desc, col("term"))
      tf.join(df, "term")
        .withColumn("score",
          round(col("tf") * log(lit(n.toDouble) / col("df")), 6) + lit(0))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("doc_id"), col("rk").cast("long").as("rk"),
          col("term"), col("tf"), col("df"), col("score"))
    }),

    // -- deterministic weighted source mixing (training-mix construction) --
    // each source gets a weight in {0.5, 1.0, 1.5, 2.0} (derived from
    // md5(source) so the oracle agrees without a config table; a real run
    // passes an explicit source->weight map). Docs are replicated
    // floor(w) times plus one more with probability frac(w), the coin
    // being a per-doc md5 bit — deterministic up/down-sampling, the way a
    // training mix actually repeats/downsamples sources. Pure projection +
    // explode: no shuffle at all, so it streams at any corpus size.
    "t17_source_mix" -> ((s, d) => {
      val wq = (ascii(substring(md5(col("source").cast("binary")), 1, 1)) % 4)
      val weight = lit(0.5) + wq.cast("double") * 0.5
      val base = floor(weight).cast("long")
      val coin = (ascii(substring(
        md5(concat(col("doc_id").cast("string"), lit(":mix")).cast("binary")), 1, 1)) % 2)
      val extra = when(weight - floor(weight) > 0.25 && coin === 1, 1L).otherwise(0L)
      documents(s, d)
        .select(col("doc_id"), col("source"), weight.as("weight"),
          (base + extra).as("n_copies"))
        .select(col("doc_id"), col("source"), col("weight"), col("n_copies"),
          explode(when(col("n_copies") >= 1,
            sequence(lit(1L), col("n_copies")))
            .otherwise(array().cast("array<long>"))).as("copy"))
    }),

    // -- unigram-LM surprisal score (perplexity proxy for quality) ---------
    // quality signal: average per-token surprisal against a unigram LM
    // trained on the corpus itself. The at-scale form is -mean log2 p(w);
    // the gate-exact form quantizes to INTEGER bit-lengths
    // (bits(N) - bits(cf) ≈ log2(N/cf), exact integer arithmetic in both
    // engines — float ln() may differ between JVM and DuckDB in the last
    // ulp and sums of doubles are order-dependent, so the only FP op is
    // the final division). Corpus-frequency table joins back on the token
    // — at 100 TB the head of the vocabulary is skewed, but the join is
    // map-side combinable (tf per doc first), so no hot-key fanout.
    "t18_surprisal" -> ((s, d) => {
      val docs = documents(s, d)
      val tok = docs.select(col("doc_id"), explode(ws).as("w"))
      val tf = tok.groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
      val cf = tf.groupBy("w").agg(sum(col("tf")).as("cf"))
      val n = tok.count() // corpus token count: one job, then a literal
      val bitsN = lit(java.lang.Long.toBinaryString(n).length)
      tf.join(cf, "w")
        .groupBy("doc_id")
        .agg(sum(col("tf")).as("n_tokens"),
          sum(col("tf") * (bitsN - length(bin(col("cf"))))).as("surprisal_bits"))
        .select(col("doc_id"), col("n_tokens"), col("surprisal_bits"),
          round(col("surprisal_bits").cast("double") / col("n_tokens"), 4).as("score"))
    }),

    // -- bigram-LM surprisal (the CCNet-style filter, one order up) --------
    // t18 scores against a unigram LM; this conditions on the previous
    // word: surprisal(doc) = sum over bigrams of -log2 P(b|a) with
    // P(b|a) = c(a,b)/c(a,-), both counts from the corpus itself. Same
    // integer bit-length quantization as t18 (bits(c1) - bits(c2) per
    // occurrence) so both engines agree exactly; per-(doc,a,b) counts
    // dedupe BEFORE the two global joins, and the context table c1 is
    // derived from the bigram table (one aggregation chain, both joins
    // co-partitioned on the leading word).
    "t25_bigram_surprisal" -> ((s, d) =>
      surprisalPerDoc(documents(s, d))
        .select(col("doc_id"), col("n_bigrams"), col("surprisal_bits"),
          round(col("surprisal_bits").cast("double") / col("n_bigrams"), 4)
            .as("score"))),

    // -- t35: two-sided perplexity gate (Gopher-style quality filter) ------
    // t25 scores; this op DECIDES. The production filter drops both tails
    // of the per-doc LM-surprisal distribution: too predictable is
    // boilerplate, too surprising is noise/garbled text. The classic
    // formulation (percentile cut) needs a global sort; the scale-correct
    // one is a z-score gate against ONE corpus aggregate (count, sum,
    // sum-of-squares — map-side combinable, broadcast back as a 1-row
    // frame). Floating-point mean/stddev would make boundary docs
    // engine-dependent, so the |z| <= 2 test is stated INTEGER-EXACTLY
    // on basis-point scores:  (n*x - s1)^2 <= 4*(n*s2 - s1^2), all in
    // DECIMAL(38,0) (HUGEINT on the oracle side) — overflow-safe to
    // ~1e19 docs, far past any corpus.
    "t35_surprisal_gate" -> ((s, d) => {
      val D38 = "decimal(38,0)"
      val per = surprisalPerDoc(documents(s, d))
        .select(col("doc_id"),
          expr("surprisal_bits * 10000 div n_bigrams").as("score_bp"))
      // Cast to DECIMAL(38,0) BEFORE the multiply/sum (dq6 pattern): a
      // LongType sum of score_bp^2 (~1e11 per doc) silently wraps past
      // ~1e7-1e8 docs, while the DuckDB twin sums in HUGEINT.
      val stats = broadcast(per.agg(
        count(lit(1)).cast(D38).as("n"),
        sum(col("score_bp").cast(D38)).as("s1"),
        sum(col("score_bp").cast(D38) * col("score_bp").cast(D38)).as("s2")))
      per.crossJoin(stats)
        .withColumn("dev", col("n") * col("score_bp").cast(D38) - col("s1"))
        .select(col("doc_id"), col("score_bp"),
          when(col("dev") * col("dev") <=
              lit(4).cast(D38) * (col("n") * col("s2") - col("s1") * col("s1")),
            1).otherwise(0).as("inlier"))
    }),

    // -- DSIR hashed-n-gram importance weighting (data selection) ----------
    // [[dsirWeights]] over the corpus with lang='en' as the target domain;
    // `keep` is the logw > 0 resampling gate.
    "t30_dsir_importance" -> ((s, d) =>
      dsirWeights(documents(s, d), "en")
        .select(col("doc_id"), col("n_grams"), col("logw_bits"),
          when(col("logw_bits") > 0, 1).otherwise(0).as("keep"))),

    // -- token-budgeted per-source sampling --------------------------------
    // the other half of training-mix construction (t9 caps DOCUMENT count,
    // this caps TOKEN count): per source, take docs in deterministic
    // md5-shuffled order until a token budget fills. One window cumsum per
    // source — parallel across sources, no collect, and the budget check
    // is a pure filter so Catalyst prunes everything else off the scan.
    "t19_token_budget" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("source"))
        .orderBy(md5(col("doc_id").cast("string").cast("binary")), col("doc_id"))
      documents(s, d)
        .select(col("source"), col("doc_id"), size(ws).cast("long").as("nt"))
        .withColumn("cum_tokens", sum(col("nt")).over(w))
        .filter(col("cum_tokens") <= 600)
        .select(col("source"), col("doc_id"), col("nt").as("n_tokens"),
          col("cum_tokens"))
    }),

    // -- deflate compression ratio (quality signal) -------------------------
    // the CCNet/Gopher compressibility gate: highly compressible text is
    // boilerplate/repetition, incompressible is noise/binary junk. Runs as
    // a partition-wise batch (one Deflater per partition, level 6 — the
    // output bytes are fully determined by input + level). java.util.zip
    // has no SQL twin, so this is the library's ONE rows-only-checked
    // query (no DuckDB oracle); the spec pins exact ratios instead.
    // -- vocabulary construction (tokenizer-training step 1) ---------------
    // global token counts -> frequency-ranked ids (1 = most frequent;
    // count-desc, token-asc tie-break). See [[rankedVocab]] for why the
    // ranking is a distributed sort + zipWithIndex, not a global window.
    "t21_vocab" -> ((s, d) => rankedVocab(s, d)),

    // -- corpus encoding against the trained vocab (step 2) ----------------
    // per-doc token-id sequence (OOV -> 0), plus token/OOV counts — the
    // materialization a training pipeline feeds to sequence packing (t14).
    // The vocab side of the join is vocabulary-sized (broadcastable); the
    // corpus side is one posexplode + one per-doc aggregation.
    "t22_encode" -> ((s, d) => {
      val vocab = rankedVocab(s, d).select(col("tok"), col("id"))
      documents(s, d)
        .select(col("doc_id"), posexplode(ws))
        .select(col("doc_id"), col("pos"), col("col").as("tok"))
        .join(broadcast(vocab), Seq("tok"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("id").isNull, 1L).otherwise(0L)).as("n_oov"),
          concat_ws(",", transform(
            array_sort(collect_list(struct(col("pos").as("p"),
              coalesce(col("id"), lit(0L)).as("i")))),
            t => t.getField("i"))).as("ids"))
    }),

    // -- repetition filter (quality heuristic a la Gopher): flag documents
    // dominated by a single 2-gram or by duplicated 3-grams ----------------
    "t12_repetition" -> ((s, d) => {
      val doc = documents(s, d)
      val a2 = Shingles.wordNGrams(doc, 2)
        .groupBy("doc_id", "sh").count()
        .groupBy("doc_id").agg(max(col("count")).as("top2"), sum(col("count")).as("tot2"))
      val a3 = Shingles.wordNGrams(doc, 3)
        .groupBy("doc_id", "sh").count()
        .groupBy("doc_id")
        .agg(coalesce(sum(when(col("count") >= 2, col("count"))), lit(0L)).as("dup3"),
          sum(col("count")).as("tot3"))
      a2.join(a3, "doc_id").select(
        col("doc_id"),
        round(col("top2").cast("double") / col("tot2"), 4).as("top_2gram_frac"),
        round(col("dup3").cast("double") / col("tot3"), 4).as("dup_3gram_frac"),
        when(col("top2").cast("double") / col("tot2") > 0.08 ||
          col("dup3").cast("double") / col("tot3") > 0.3, 1).otherwise(0).as("repetitive"))
    }),

    // -- t26: BPE merge learning (the first merge table) -------------------
    // the decision step a byte-pair-encoding trainer iterates: count every
    // adjacent within-word symbol pair over the corpus, take the most
    // frequent pairs as the next merges. One map-side-combinable count over
    // character bigrams (state bounded by alphabet^2, not corpus size) and
    // a TakeOrdered top-k — per-partition heads merged on the driver, no
    // global sort, no single-partition window. A full trainer repeats this
    // per merge round; each round is this same bounded-state pass.
    // Deterministic: ties broken by pair text ascending.
    "t26_bpe_merge" -> ((s, d) => {
      documents(s, d)
        .select(explode(ws).as("w"))
        .filter(length(col("w")) >= 2)
        .select(explode(sequence(lit(1), length(col("w")) - 1)).as("i"), col("w"))
        .select(col("w").substr(col("i"), lit(2)).as("pair"))
        .groupBy("pair").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("pair"))
        .limit(20)
    }),

    // -- t27: graded contamination scoring ---------------------------------
    // t10's binary verdict, upgraded to the fraction eval suites actually
    // report: per training doc, what share of its 5-gram INSTANCES appear
    // in the held-out set (instances, not distinct grams — that keeps the
    // whole plan two map-side-combinable aggs + one broadcast join, with
    // no corpus-wide distinct shuffle; both numerator and denominator are
    // per-doc, so the fraction is exact either way). Basis points via
    // integer div keep both engines bit-exact. Zero-hit docs are kept
    // (left join + coalesce): the score's consumers threshold on it, so
    // absent rows would read as "unknown", not "clean".
    "t27_contamination_frac" -> ((s, d) => {
      val doc = documents(s, d)
      val testDocs = doc.filter(col("doc_id") % 100 === 0)
      val trainDocs = doc.filter(col("doc_id") % 100 =!= 0)
        .select(col("doc_id"), col("text"))
        .union(testDocs.select((col("doc_id") + 300000).as("doc_id"),
          concat_ws(" ", slice(ws, lit(1), greatest(size(ws) - 2, lit(1)))).as("text")))
      val testSh = Shingles.wordNGrams(testDocs, 5).select("sh").distinct()
      val tsh = Shingles.wordNGrams(trainDocs, 5)
      val tot = tsh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
      val hits = tsh.join(broadcast(testSh), "sh")
        .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
      tot.join(hits, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_sh"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          expr("coalesce(n_hits, 0) * 10000 div n_sh").as("contam_bp"))
    }),

    // -- t28: DSIR-style target-domain importance votes --------------------
    // Data Selection with Importance Resampling (Xie et al. 2023): score
    // raw docs by how target-like their hashed-n-gram distribution is.
    // Features are word bigrams hashed to 4096 buckets (the x3 md5
    // convention); target = the held-out split, raw = the corpus. Instead
    // of summing float log-likelihood ratios (whose order-dependent FP sum
    // can't hash-match across engines), each bucket casts an integer VOTE:
    // +1 if Laplace-smoothed p_target > p_raw, else -1, decided by exact
    // DECIMAL(19,0) cross-multiplication — (ct+1)(Nr+4096) > (cr+1)(Nt+4096)
    // is the same inequality as the LLR sign, exact to ~1e19 n-grams/side,
    // i.e. past 100 TB. A doc's score is the sum of its features' votes —
    // order-independent integer math. Scale: the bucket table is bounded
    // at 4096 rows (broadcast), totals are a broadcast scalar, scoring is
    // one map-side-combined agg over the corpus — embarrassingly parallel.
    "t28_dsir_votes" -> ((s, d) => {
      val big = Shingles.wordNGrams(documents(s, d).select(col("doc_id"), col("text")), 2)
        .select(col("doc_id"), substring(md5(col("sh").cast("binary")), 1, 3).as("b"))
      val isT = col("doc_id") % 100 === 0
      val stats = big.groupBy("b").agg(
        sum(when(isT, 1L).otherwise(0L)).as("ct"),
        sum(when(isT, 0L).otherwise(1L)).as("cr"))
      val tot = stats.agg(sum("ct").as("nt"), sum("cr").as("nr"))
      val votes = stats.crossJoin(broadcast(tot))
        .select(col("b"),
          when((col("ct") + 1).cast("decimal(19,0)") * (col("nr") + 4096).cast("decimal(19,0)")
            > (col("cr") + 1).cast("decimal(19,0)") * (col("nt") + 4096).cast("decimal(19,0)"),
            1L).otherwise(-1L).as("v"))
      big.filter(col("doc_id") % 100 =!= 0)
        .join(broadcast(votes), "b")
        .groupBy("doc_id")
        .agg(sum(col("v")).as("dsir_votes"), count(lit(1)).as("n_feat"))
    }),

    // -- t29: Kneser-Ney continuation statistics ---------------------------
    // the statistics a KN-smoothed n-gram LM trains on (KenLM over a web
    // corpus is a classic 100 TB batch job): per word, the raw unigram
    // count, the continuation counts N1+(·w) (distinct left contexts —
    // the KN lower-order numerator) and N1+(w·) (distinct right contexts
    // — the Witten-Bell context diversity), and the KN unigram
    // probability N1+(·w)/|distinct bigrams| in basis points. Scale: the
    // corpus-sized bigram stream collapses to the DISTINCT-bigram table
    // first (one hash agg); both direction counts and the total then run
    // over that vocabulary-bounded table, never the corpus; the total is
    // a broadcast scalar and all arithmetic is integer.
    "t29_kn_continuation" -> ((s, d) => {
      val big = Shingles.wordNGrams(
          documents(s, d).select(col("doc_id"), col("text")), 2)
        .select(split(col("sh"), " ").getItem(0).as("a"),
          split(col("sh"), " ").getItem(1).as("b"))
        .distinct().localCheckpoint() // 3 consumers: n_prec, n_succ, total
      val nPrec = big.groupBy(col("b").as("tok"))
        .agg(count(lit(1)).as("n_prec"))
      val nSucc = big.groupBy(col("a").as("tok"))
        .agg(count(lit(1)).as("n_succ"))
      val tot = big.agg(count(lit(1)).as("nb"))
      documents(s, d).select(explode(ws).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("c"))
        .filter(col("c") >= 20)
        .join(nPrec, Seq("tok"), "left")
        .join(nSucc, Seq("tok"), "left")
        .crossJoin(broadcast(tot))
        .select(col("tok"), col("c"),
          coalesce(col("n_prec"), lit(0L)).as("n_prec"),
          coalesce(col("n_succ"), lit(0L)).as("n_succ"),
          expr("coalesce(n_prec, 0) * 10000 div nb").as("kn_bp"))
    }),

    // -- t31: deterministic global shuffle -> training-shard export --------
    // the last step before a training run reads the corpus: every doc gets
    // a shard (md5 bucket — reproducible on any cluster, no RNG state to
    // ship), a position inside the shard (md5-ordered = a deterministic
    // uniform shuffle, so adjacent source docs land far apart), and the
    // running token offset a sequence-packing reader indexes by. ONE
    // shuffle on shard + a per-shard sort whose width is corpus/shards —
    // at 100 TB each shard is one writer task's output file, and the
    // offset column IS the index sidecar. (t23 buckets into train/val/test
    // SETS; this orders the training set for consumption.)
    "t31_train_shard" -> ((s, d) => {
      val h = md5(col("doc_id").cast("string").cast("binary"))
      val a = ascii(substring(h, 1, 1))
      val shard = (a - when(a >= 97, 87).otherwise(48)) % 8
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("shard")).orderBy(col("h"), col("doc_id"))
      documents(s, d)
        .select(col("doc_id"), size(split(col("text"), " ")).as("n_tok"),
          shard.as("shard"), h.as("h"))
        .withColumn("pos", row_number().over(w))
        .withColumn("tok_offset", coalesce(
          sum(col("n_tok")).over(w.rowsBetween(Window.unboundedPreceding, -1)),
          lit(0)).cast("long"))
        .select(col("shard"), col("pos"), col("doc_id"), col("n_tok"),
          col("tok_offset"))
    }),

    // -- t33: Unicode NFC normalization ------------------------------------
    // the canonicalization step that runs BEFORE any hash-based dedup on
    // real multilingual crawl data: "café" with a combining acute and
    // "café" precomposed are the same document to a human but different
    // md5s to d1 — normalize-then-hash closes that hole. The engine
    // kernel is java.text.Normalizer (JVM-resident, per-row, zero
    // shuffle); the oracle is DuckDB's utf8proc nfc_normalize — two
    // INDEPENDENT Unicode implementations that must agree codepoint-for-
    // codepoint (verified up front on composition exclusions, canonical
    // reordering, Hangul jamo and non-BMP singletons). The corpus is
    // augmented with twins carrying a DECOMPOSED literal suffix (stated
    // identically in both engines), so changed=1 rows exist at every sf.
    "t33_nfc_normalize" -> ((s, d) => {
      import s.implicits._
      val doc = documents(s, d)
      val off = broadcast(doc.agg(
        greatest(max(col("doc_id")) + 1, lit(100000L)).as("o")))
      // decomposed on purpose (combining marks as explicit escapes so
      // no editor/tool can silently NFC the source): e+U+0301, A+U+030A,
      // o+U+0308 -> NFC composes them to e-acute, A-ring, o-diaeresis
      val dec = "e\u0301cole A\u030Angstro\u0308m"
      val aug = doc.select(col("doc_id"), col("text"))
        .union(doc.filter(col("doc_id") % 10 === 0).crossJoin(off)
          .select((col("doc_id") + col("o")).as("doc_id"),
            concat(col("text"), lit(" " + dec)).as("text")))
      aug.select(col("doc_id").cast("long"), col("text").cast("string"))
        .as[(Long, String)]
        .mapPartitions(_.map { case (id, t) =>
          val nt =
            if (t == null) null
            else java.text.Normalizer.normalize(t, java.text.Normalizer.Form.NFC)
          (id, if (t == null || t == nt) 0 else 1, nt)
        })
        .toDF("doc_id", "changed", "norm")
        .select(col("doc_id"), col("changed"),
          md5(col("norm").cast("binary")).as("norm_hash"))
    }),

    // -- t34: RAG chunking (fixed window + overlap, stable chunk ids) ------
    // the retrieval-pipeline splitter: every document becomes 200-char
    // chunks on a 160-char stride (40-char overlap keeps a sentence that
    // straddles a boundary retrievable from BOTH neighbors). Chunk
    // identity is content-addressed (md5 of the chunk text) so re-chunking
    // an unchanged doc reproduces identical ids — the property an
    // embedding cache keys on. Scale shape: ONE scan, a per-row
    // sequence+explode (fan-out ~len/160, no shuffle at all — the whole
    // query is a codegen'd projection), chunk count bounded by corpus
    // bytes / stride. The explode carries (doc_id, text) once per chunk;
    // at 100 TB the same plan holds because chunking is embarrassingly
    // row-local — partition count, not operator shape, absorbs the scale.
    "t34_chunk_overlap" -> ((s, d) => {
      val (size, stride) = (200, 160)
      documents(s, d)
        .select(col("doc_id"), col("text"),
          // empty/null docs chunk to NOTHING on both engines: Spark's
          // `div` truncates toward zero ((0-1) div 160 = 0 -> a phantom
          // empty chunk) while DuckDB's // floors to -1 (-> no rows), so
          // the zero-length case must be gated, not left to division
          explode(when(length(col("text")) >= 1, sequence(lit(0),
            // last chunk starts at the greatest stride multiple < len
            // (Column./ is DOUBLE division — `div` keeps this integral)
            expr(s"cast((length(text) - 1) div $stride as int)")))
            .otherwise(array().cast("array<int>"))).as("chunk_idx"))
        .select(col("doc_id"), col("chunk_idx"),
          expr(s"substring(text, chunk_idx * $stride + 1, $size)").as("chunk"))
        .select(col("doc_id"), col("chunk_idx"),
          (col("chunk_idx") * stride + 1).as("chunk_start"),
          length(col("chunk")).as("n_chars"),
          md5(col("chunk").cast("binary")).as("chunk_id"))
    })
  )

  /** t38's twin: the K-merge ladder (shared CTE builder — engine and
    * oracle measure docs with the SAME realized tokenizer), the per-doc
    * token count with the 1-token fallback for out-of-domain words, then
    * the t14-style per-source cumsum pack with pad closure. */
  private def bpePackOracle(k: Int, seqLen: Int): String =
    "WITH " + bpeLadderCtes(k, "documents") + s""",
       |enc AS (SELECT w, CAST(len(string_split(st, '  ')) - 2 AS BIGINT) AS ntw
       |        FROM s$k),
       |tok AS (SELECT source, doc_id, unnest(string_split(text, ' ')) AS w
       |        FROM documents),
       |pd AS (SELECT source, doc_id, CAST(SUM(coalesce(ntw, 1)) AS BIGINT) AS n_tok
       |       FROM tok LEFT JOIN enc USING (w) GROUP BY source, doc_id),
       |c AS (SELECT source, doc_id, n_tok,
       |        CAST(SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id) AS BIGINT) AS ce
       |      FROM pd),
       |seg AS (SELECT source, doc_id, ce - n_tok AS cs, ce,
       |         unnest(generate_series((ce - n_tok) // $seqLen, (ce - 1) // $seqLen)) AS seq
       |       FROM c),
       |body AS (SELECT source, seq, doc_id,
       |          greatest(cs - seq * $seqLen, 0) AS tok_start,
       |          least(ce, (seq + 1) * $seqLen) - greatest(cs, seq * $seqLen) AS n_tok,
       |          1 AS loss_mask,
       |          CASE WHEN cs >= seq * $seqLen THEN 1 ELSE 0 END AS doc_start,
       |          CASE WHEN ce <= (seq + 1) * $seqLen THEN 1 ELSE 0 END AS doc_end
       |        FROM seg),
       |tot AS (SELECT source, MAX(ce) AS total FROM c GROUP BY source),
       |pad AS (SELECT source, (total - 1) // $seqLen AS seq,
       |          CAST(-1 AS BIGINT) AS doc_id,
       |          total % $seqLen AS tok_start, $seqLen - total % $seqLen AS n_tok,
       |          0 AS loss_mask, 0 AS doc_start, 0 AS doc_end
       |        FROM tot WHERE total % $seqLen <> 0)
       |SELECT * FROM body UNION ALL SELECT * FROM pad""".stripMargin

  private def sqlVotes(set: Seq[String], name: String) =
    s"len(list_filter(string_split(text, ' '), w -> w IN (${set.map(w => s"'$w'").mkString(", ")}))) AS $name"

  def oracles: Map[String, String] = Map(
    "t36_bpe_train" -> bpeOracle(8),
    "t37_bpe_encode" -> bpeEncodeOracle(8),
    "t38_sequence_pack" -> bpePackOracle(8, 512),
    // the decomposed suffix is restated codepoint-by-codepoint via chr():
    // 769=U+0301 combining acute, 778=U+030A ring above, 776=U+0308
    // diaeresis — byte-identical to the engine's escaped literal
    "t33_nfc_normalize" ->
      """WITH aug AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + (SELECT GREATEST(MAX(doc_id) + 1, 100000) FROM documents)
        |      AS doc_id,
        |    text || ' e' || chr(769) || 'cole A' || chr(778) || 'ngstro' ||
        |      chr(776) || 'm' AS text
        |  FROM documents WHERE doc_id % 10 = 0)
        |SELECT doc_id,
        |  CASE WHEN text IS NULL OR nfc_normalize(text) = text THEN 0 ELSE 1 END
        |    AS changed,
        |  md5(nfc_normalize(text)) AS norm_hash
        |FROM aug""".stripMargin,
    "t21_vocab" ->
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
        |v AS (SELECT tok, COUNT(*) AS n FROM tok GROUP BY tok HAVING COUNT(*) >= 5)
        |SELECT tok, n, ROW_NUMBER() OVER (ORDER BY n DESC, tok) AS id FROM v""".stripMargin,
    "t22_encode" ->
      """WITH tok AS (
        |  SELECT doc_id, i AS pos, ws[i] AS tok
        |  FROM (SELECT doc_id, string_split(text, ' ') AS ws,
        |          unnest(generate_series(1, len(string_split(text, ' ')))) AS i
        |        FROM documents)),
        |v AS (SELECT tok, COUNT(*) AS n FROM tok GROUP BY tok HAVING COUNT(*) >= 5),
        |vid AS (SELECT tok, ROW_NUMBER() OVER (ORDER BY n DESC, tok) AS id FROM v),
        |enc AS (SELECT t.doc_id, t.pos, COALESCE(vid.id, 0) AS id
        |        FROM tok t LEFT JOIN vid USING (tok))
        |SELECT doc_id, COUNT(*) AS n_tokens,
        |  CAST(SUM(CASE WHEN id = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        |  string_agg(CAST(id AS VARCHAR), ',' ORDER BY pos) AS ids
        |FROM enc GROUP BY doc_id""".stripMargin,
    "t1_token_stats" ->
      """SELECT doc_id,
        |  len(string_split(text, ' ')) AS n_tokens,
        |  len(list_distinct(string_split(text, ' '))) AS n_distinct,
        |  list_max(list_transform(string_split(text, ' '), w -> length(w))) AS max_tok_len,
        |  length(text) AS n_chars_actual
        |FROM documents""".stripMargin,
    "t2_quality" ->
      s"""WITH b AS (SELECT doc_id,
         |  len(string_split(text, ' ')) AS nt,
         |  ${sqlVotes(enWords, "sw")},
         |  len(list_distinct(string_split(text, ' '))) AS nd
         |FROM documents)
         |SELECT doc_id, nt AS n_tokens, sw AS n_stopwords,
         |  round(CAST(sw AS DOUBLE) / nt, 4) AS stopword_ratio,
         |  round(CAST(nd AS DOUBLE) / nt, 4) AS distinct_ratio,
         |  CASE WHEN nt BETWEEN 10 AND 2000 AND sw >= 1 THEN 1 ELSE 0 END AS quality_ok
         |FROM b""".stripMargin,
    "t3_langid" ->
      s"""WITH v AS (SELECT doc_id, lang,
         |  ${sqlVotes(enWords, "en_score")},
         |  ${sqlVotes(deWords, "de_score")},
         |  ${sqlVotes(esWords, "es_score")},
         |  ${sqlVotes(frWords, "fr_score")}
         |FROM documents)
         |SELECT doc_id, lang, en_score, de_score, es_score, fr_score,
         |  CASE WHEN en_score >= de_score AND en_score >= es_score AND en_score >= fr_score THEN 'en'
         |       WHEN de_score >= es_score AND de_score >= fr_score THEN 'de'
         |       WHEN es_score >= fr_score THEN 'es'
         |       ELSE 'fr' END AS predicted
         |FROM v""".stripMargin,
    "t4_fingerprint" ->
      """SELECT doc_id, md5(text) AS exact_fp,
        |  md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS bag_fp,
        |  length(text) // 100 AS len_bucket
        |FROM documents""".stripMargin,
    // empty text folds to the seed 0 (DuckDB's string_split_regex('','')
    // yields [''] and unicode('') is -1, so the fold needs the explicit
    // empty-string branch — found by the pathological-corpus sweep)
    "t6_rolling_fp" ->
      """SELECT doc_id,
        |  CASE WHEN length(text) = 0 THEN CAST(0 AS BIGINT) ELSE
        |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split_regex(text, ''), c -> CAST(unicode(c) AS BIGINT))),
        |              (h, c) -> (h * 31 + c) % 1000000000000037) END AS fp
        |FROM documents""".stripMargin,
    "t7_bpe_tokens" ->
      """SELECT doc_id,
        |  len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_bpe,
        |  len(string_split(text, ' ')) AS n_ws
        |FROM documents""".stripMargin,
    "t8_chunking" ->
      """SELECT doc_id, (start - 1) // 40 AS chunk_id,
        |  array_to_string(w[start:least(start + 49, len(w))], ' ') AS chunk,
        |  least(len(w) - start + 1, 50) AS chunk_tokens
        |FROM (SELECT doc_id, w, unnest(generate_series(1, len(w), 40)) AS start
        |      FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents))""".stripMargin,
    "t9_stratified_sample" ->
      """SELECT source, doc_id, rk FROM (
        |  SELECT source, doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |  FROM documents) WHERE rk <= 5""".stripMargin,
    "t23_split" ->
      """WITH h AS (SELECT md5(CAST(doc_id AS VARCHAR)) AS h,
        |    len(string_split(text, ' ')) AS nt FROM documents),
        |b AS (SELECT nt,
        |    (ascii(substring(h,1,1)) -
        |      CASE WHEN ascii(substring(h,1,1)) >= 97 THEN 87 ELSE 48 END) * 16 +
        |    (ascii(substring(h,2,1)) -
        |      CASE WHEN ascii(substring(h,2,1)) >= 97 THEN 87 ELSE 48 END) AS bucket
        |  FROM h)
        |SELECT CASE WHEN bucket < 13 THEN 'test' WHEN bucket < 26 THEN 'val'
        |            ELSE 'train' END AS part,
        |  COUNT(*) AS n_docs, CAST(SUM(nt) AS BIGINT) AS n_tokens
        |FROM b GROUP BY 1""".stripMargin,
    "t31_train_shard" ->
      """WITH h AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h,
        |    len(string_split(text, ' ')) AS n_tok FROM documents),
        |b AS (SELECT doc_id, h, n_tok,
        |    (ascii(substring(h,1,1)) -
        |      CASE WHEN ascii(substring(h,1,1)) >= 97 THEN 87 ELSE 48 END) % 8 AS shard
        |  FROM h)
        |SELECT shard, ROW_NUMBER() OVER w AS pos, doc_id, n_tok,
        |  CAST(COALESCE(SUM(n_tok) OVER (PARTITION BY shard ORDER BY h, doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_offset
        |FROM b WINDOW w AS (PARTITION BY shard ORDER BY h, doc_id)""".stripMargin,
    "t24_dup_gram_strip" ->
      """WITH tok AS (SELECT doc_id, i, ws[i] AS w,
        |    CASE WHEN i <= len(ws) - 2
        |         THEN array_to_string(ws[i:i+2], ' ') END AS g
        |  FROM (SELECT doc_id, string_split(text, ' ') AS ws,
        |          unnest(generate_series(1, len(string_split(text, ' ')))) AS i
        |        FROM documents)),
        |r AS (SELECT doc_id, i, w, g,
        |    CASE WHEN g IS NULL THEN 1
        |         ELSE ROW_NUMBER() OVER (PARTITION BY doc_id, g ORDER BY i) END AS rn
        |  FROM tok)
        |SELECT doc_id, COUNT(*) AS n_kept,
        |  string_agg(w, ' ' ORDER BY i) AS cleaned
        |FROM r WHERE g IS NULL OR rn = 1
        |GROUP BY doc_id""".stripMargin,
    "t5_trigrams" ->
      """SELECT lang, substr(text, i, 3) AS g, COUNT(*) AS count
        |FROM (SELECT lang, text, unnest(generate_series(1, length(text) - 2)) AS i
        |      FROM documents)
        |GROUP BY lang, substr(text, i, 3)
        |HAVING COUNT(*) >= 50""".stripMargin,
    "t10_decontaminate" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |test AS (SELECT DISTINCT array_to_string(w[i:i+4], ' ') AS sh
        |         FROM (SELECT w, unnest(generate_series(1, len(w) - 4)) AS i
        |               FROM w WHERE doc_id % 100 = 0)),
        |train AS (SELECT doc_id, w FROM w WHERE doc_id % 100 <> 0
        |          UNION ALL
        |          SELECT doc_id + 300000, w[1:greatest(len(w) - 2, 1)]
        |          FROM w WHERE doc_id % 100 = 0),
        |tsh AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+4], ' ') AS sh
        |        FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 4)) AS i
        |              FROM train))
        |SELECT doc_id, COUNT(*) AS n_hits FROM tsh JOIN test USING (sh)
        |GROUP BY doc_id""".stripMargin,
    "t11_pii_scrub" ->
      """WITH a AS (SELECT doc_id,
        |  text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com or call 555-'
        |       || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' now' AS aug
        |  FROM documents)
        |SELECT doc_id,
        |  len(regexp_extract_all(aug, '[a-z0-9._-]+@[a-z0-9.-]+\.[a-z][a-z]+')) AS n_emails,
        |  len(regexp_extract_all(aug, '555-[0-9][0-9][0-9][0-9]')) AS n_phones,
        |  regexp_replace(regexp_replace(aug, '[a-z0-9._-]+@[a-z0-9.-]+\.[a-z][a-z]+', '<EMAIL>', 'g'),
        |                 '555-[0-9][0-9][0-9][0-9]', '<PHONE>', 'g') AS clean
        |FROM a""".stripMargin,
    "t13_url_stats" ->
      """WITH a AS (SELECT doc_id, len(string_split(text, ' ')) AS nt,
        |  regexp_extract(text || ' see https://site' || CAST(doc_id % 50 AS VARCHAR)
        |    || '.example.org/p/' || CAST(doc_id AS VARCHAR),
        |    'https://([a-z0-9.-]+)/', 1) AS domain
        |  FROM documents)
        |SELECT domain, COUNT(*) AS n_docs, MIN(doc_id) AS first_doc,
        |  round(AVG(nt), 2) AS avg_tokens
        |FROM a GROUP BY domain""".stripMargin,
    "t14_seq_packing" ->
      """WITH b AS (SELECT source, doc_id,
        |  len(string_split(text, ' ')) AS nt,
        |  CAST(SUM(len(string_split(text, ' '))) OVER (PARTITION BY source ORDER BY doc_id) AS BIGINT) AS cum_end
        |  FROM documents)
        |SELECT source, doc_id, nt AS n_tokens,
        |  (cum_end - nt) // 1024 AS seq_first,
        |  (cum_end - 1) // 1024 AS seq_last,
        |  (cum_end - nt) % 1024 AS seq_offset
        |FROM b""".stripMargin,
    "t15_pack_fill" ->
      """WITH b AS (SELECT source, doc_id,
        |  len(string_split(text, ' ')) AS nt,
        |  CAST(SUM(len(string_split(text, ' '))) OVER (PARTITION BY source ORDER BY doc_id) AS BIGINT) AS cum_end
        |  FROM documents),
        |x AS (SELECT source, cum_end - nt AS cum_start, cum_end,
        |  unnest(generate_series((cum_end - nt) // 1024, (cum_end - 1) // 1024)) AS seq
        |  FROM b)
        |SELECT source, seq, COUNT(*) AS n_docs,
        |  CAST(SUM(least(cum_end, (seq + 1) * 1024) - greatest(cum_start, seq * 1024)) AS BIGINT) AS n_tokens
        |FROM x GROUP BY source, seq""".stripMargin,
    "t16_tfidf" ->
      """WITH tf AS (SELECT doc_id, term, COUNT(*) AS tf
        |            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |                  FROM documents)
        |            GROUP BY doc_id, term),
        |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
        |nn AS (SELECT COUNT(*) AS n FROM documents),
        |sc AS (SELECT doc_id, term, tf, df,
        |         round(tf * ln(CAST(n AS DOUBLE) / df), 6) + 0 AS score
        |       FROM tf JOIN df USING (term) CROSS JOIN nn),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
        |        ORDER BY score DESC, term) AS rk FROM sc)
        |SELECT doc_id, rk, term, tf, df, score FROM r WHERE rk <= 3""".stripMargin,
    "t19_token_budget" ->
      """WITH b AS (SELECT source, doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS nt,
        |  CAST(SUM(len(string_split(text, ' '))) OVER (PARTITION BY source
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS cum_tokens
        |  FROM documents)
        |SELECT source, doc_id, nt AS n_tokens, cum_tokens
        |FROM b WHERE cum_tokens <= 600""".stripMargin,
    "t17_source_mix" ->
      """WITH b AS (
        |  SELECT doc_id, source,
        |    CAST(0.5 + (ascii(substr(md5(source), 1, 1)) % 4) * 0.5 AS DOUBLE) AS weight,
        |    ascii(substr(md5(CAST(doc_id AS VARCHAR) || ':mix'), 1, 1)) % 2 AS coin
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, source, weight,
        |    CAST(FLOOR(weight) AS BIGINT) +
        |      CASE WHEN weight - FLOOR(weight) > 0.25 AND coin = 1 THEN 1 ELSE 0 END AS n_copies
        |  FROM b)
        |SELECT doc_id, source, weight, n_copies,
        |  unnest(generate_series(1, n_copies)) AS copy
        |FROM c WHERE n_copies >= 1""".stripMargin,
    "t25_bigram_surprisal" ->
      """WITH big AS (SELECT doc_id, ws[i] AS a, ws[i+1] AS b
        |  FROM (SELECT doc_id, string_split(text, ' ') AS ws,
        |          unnest(generate_series(1, len(string_split(text, ' ')) - 1)) AS i
        |        FROM documents)),
        |tf AS (SELECT doc_id, a, b, COUNT(*) AS tf FROM big GROUP BY doc_id, a, b),
        |c2 AS (SELECT a, b, CAST(SUM(tf) AS BIGINT) AS c2 FROM tf GROUP BY a, b),
        |c1 AS (SELECT a, CAST(SUM(c2) AS BIGINT) AS c1 FROM c2 GROUP BY a),
        |per AS (SELECT doc_id,
        |          CAST(SUM(tf) AS BIGINT) AS n_bigrams,
        |          CAST(SUM(tf * (length(bin(c1)) - length(bin(c2)))) AS BIGINT)
        |            AS surprisal_bits
        |        FROM tf JOIN c2 USING (a, b) JOIN c1 USING (a) GROUP BY doc_id)
        |SELECT doc_id, n_bigrams, surprisal_bits,
        |  round(CAST(surprisal_bits AS DOUBLE) / n_bigrams, 4) AS score
        |FROM per""".stripMargin,
    // same per-doc surprisal CTEs; the |z| <= 2 gate in HUGEINT so the
    // boundary is integer-exact on both engines
    "t35_surprisal_gate" ->
      """WITH big AS (SELECT doc_id, ws[i] AS a, ws[i+1] AS b
        |  FROM (SELECT doc_id, string_split(text, ' ') AS ws,
        |          unnest(generate_series(1, len(string_split(text, ' ')) - 1)) AS i
        |        FROM documents)),
        |tf AS (SELECT doc_id, a, b, COUNT(*) AS tf FROM big GROUP BY doc_id, a, b),
        |c2 AS (SELECT a, b, CAST(SUM(tf) AS BIGINT) AS c2 FROM tf GROUP BY a, b),
        |c1 AS (SELECT a, CAST(SUM(c2) AS BIGINT) AS c1 FROM c2 GROUP BY a),
        |per AS (SELECT doc_id,
        |          CAST(SUM(tf) AS BIGINT) AS n_bigrams,
        |          CAST(SUM(tf * (length(bin(c1)) - length(bin(c2)))) AS BIGINT)
        |            AS surprisal_bits
        |        FROM tf JOIN c2 USING (a, b) JOIN c1 USING (a) GROUP BY doc_id),
        |sc AS (SELECT doc_id,
        |         surprisal_bits * 10000 // n_bigrams AS score_bp FROM per),
        |st AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n,
        |              CAST(SUM(score_bp) AS HUGEINT) AS s1,
        |              CAST(SUM(CAST(score_bp AS HUGEINT) * score_bp) AS HUGEINT) AS s2
        |       FROM sc)
        |SELECT doc_id, score_bp,
        |  CASE WHEN (n * score_bp - s1) * (n * score_bp - s1)
        |         <= 4 * (n * s2 - s1 * s1) THEN 1 ELSE 0 END AS inlier
        |FROM sc CROSS JOIN st""".stripMargin,
    "t30_dsir_importance" ->
      ("WITH " + dsirOracleCtes("documents", "en") + "\n" +
        """SELECT d.doc_id AS doc_id,
          |  coalesce(n_grams, 0) AS n_grams,
          |  coalesce(logw_bits, 0) AS logw_bits,
          |  CASE WHEN coalesce(logw_bits, 0) > 0 THEN 1 ELSE 0 END AS keep
          |FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id""".stripMargin),
    "t18_surprisal" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM tok GROUP BY doc_id, w),
        |cf AS (SELECT w, CAST(SUM(tf) AS BIGINT) AS cf FROM tf GROUP BY w),
        |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM tok),
        |per AS (SELECT doc_id,
        |          CAST(SUM(tf) AS BIGINT) AS n_tokens,
        |          CAST(SUM(tf * (length(bin(n)) - length(bin(cf)))) AS BIGINT) AS surprisal_bits
        |        FROM tf JOIN cf USING (w) CROSS JOIN nn GROUP BY doc_id)
        |SELECT doc_id, n_tokens, surprisal_bits,
        |  round(CAST(surprisal_bits AS DOUBLE) / n_tokens, 4) AS score
        |FROM per""".stripMargin,
    "t12_repetition" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |c2 AS (SELECT doc_id, g, COUNT(*) AS c FROM
        |        (SELECT doc_id, array_to_string(w[i:i+1], ' ') AS g
        |         FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 1)) AS i FROM w))
        |       GROUP BY doc_id, g),
        |a2 AS (SELECT doc_id, MAX(c) AS top2, SUM(c) AS tot2 FROM c2 GROUP BY doc_id),
        |c3 AS (SELECT doc_id, g, COUNT(*) AS c FROM
        |        (SELECT doc_id, array_to_string(w[i:i+2], ' ') AS g
        |         FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i FROM w))
        |       GROUP BY doc_id, g),
        |a3 AS (SELECT doc_id, coalesce(SUM(CASE WHEN c >= 2 THEN c END), 0) AS dup3,
        |              SUM(c) AS tot3 FROM c3 GROUP BY doc_id)
        |SELECT a2.doc_id AS doc_id,
        |  round(CAST(top2 AS DOUBLE) / tot2, 4) AS top_2gram_frac,
        |  round(CAST(dup3 AS DOUBLE) / tot3, 4) AS dup_3gram_frac,
        |  CASE WHEN CAST(top2 AS DOUBLE) / tot2 > 0.08
        |         OR CAST(dup3 AS DOUBLE) / tot3 > 0.3 THEN 1 ELSE 0 END AS repetitive
        |FROM a2 JOIN a3 ON a2.doc_id = a3.doc_id""".stripMargin,
    "t26_bpe_merge" ->
      """WITH w AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
        |p AS (SELECT substr(w, i, 2) AS pair
        |      FROM (SELECT w, unnest(generate_series(1, len(w) - 1)) AS i
        |            FROM w WHERE len(w) >= 2))
        |SELECT pair, COUNT(*) AS n FROM p GROUP BY pair
        |ORDER BY n DESC, pair LIMIT 20""".stripMargin,
    "t27_contamination_frac" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |test AS (SELECT DISTINCT array_to_string(w[i:i+4], ' ') AS sh
        |         FROM (SELECT w, unnest(generate_series(1, len(w) - 4)) AS i
        |               FROM w WHERE doc_id % 100 = 0)),
        |train AS (SELECT doc_id, w FROM w WHERE doc_id % 100 <> 0
        |          UNION ALL
        |          SELECT doc_id + 300000, w[1:greatest(len(w) - 2, 1)]
        |          FROM w WHERE doc_id % 100 = 0),
        |tsh AS (SELECT doc_id, array_to_string(w[i:i+4], ' ') AS sh
        |        FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 4)) AS i
        |              FROM train)),
        |tot AS (SELECT doc_id, COUNT(*) AS n_sh FROM tsh GROUP BY doc_id),
        |hits AS (SELECT doc_id, COUNT(*) AS n_hits
        |         FROM tsh JOIN test USING (sh) GROUP BY doc_id)
        |SELECT t.doc_id, t.n_sh, coalesce(h.n_hits, 0) AS n_hits,
        |  coalesce(h.n_hits, 0) * 10000 // t.n_sh AS contam_bp
        |FROM tot t LEFT JOIN hits h ON t.doc_id = h.doc_id""".stripMargin,
    "t28_dsir_votes" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |big AS (SELECT doc_id,
        |          substring(md5(array_to_string(w[i:i+1], ' ')), 1, 3) AS b
        |        FROM (SELECT doc_id, w,
        |                unnest(generate_series(1, len(w) - 1)) AS i FROM w)),
        |stats AS (SELECT b,
        |    CAST(SUM(CASE WHEN doc_id % 100 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ct,
        |    CAST(SUM(CASE WHEN doc_id % 100 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS cr
        |  FROM big GROUP BY b),
        |tot AS (SELECT CAST(SUM(ct) AS BIGINT) AS nt,
        |               CAST(SUM(cr) AS BIGINT) AS nr FROM stats),
        |votes AS (SELECT b,
        |    CASE WHEN CAST(ct + 1 AS DECIMAL(19,0)) * CAST(nr + 4096 AS DECIMAL(19,0))
        |            > CAST(cr + 1 AS DECIMAL(19,0)) * CAST(nt + 4096 AS DECIMAL(19,0))
        |         THEN 1 ELSE -1 END AS v
        |  FROM stats CROSS JOIN tot)
        |SELECT doc_id, CAST(SUM(v) AS BIGINT) AS dsir_votes, COUNT(*) AS n_feat
        |FROM big JOIN votes USING (b)
        |WHERE doc_id % 100 <> 0 GROUP BY doc_id""".stripMargin,
    "t29_kn_continuation" ->
      """WITH w AS (SELECT string_split(text, ' ') AS w FROM documents),
        |big AS (SELECT DISTINCT w[i] AS a, w[i+1] AS b
        |        FROM (SELECT w, unnest(generate_series(1, len(w) - 1)) AS i FROM w)),
        |np AS (SELECT b AS tok, COUNT(*) AS n_prec FROM big GROUP BY b),
        |ns AS (SELECT a AS tok, COUNT(*) AS n_succ FROM big GROUP BY a),
        |tot AS (SELECT COUNT(*) AS nb FROM big),
        |uni AS (SELECT tok, COUNT(*) AS c
        |        FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        |        GROUP BY tok HAVING COUNT(*) >= 20)
        |SELECT u.tok, u.c,
        |  coalesce(np.n_prec, 0) AS n_prec,
        |  coalesce(ns.n_succ, 0) AS n_succ,
        |  coalesce(np.n_prec, 0) * 10000 // nb AS kn_bp
        |FROM uni u LEFT JOIN np USING (tok) LEFT JOIN ns USING (tok)
        |CROSS JOIN tot""".stripMargin,
    "t34_chunk_overlap" ->
      """WITH ch AS (
        |  SELECT doc_id, i AS chunk_idx,
        |    substr(text, i * 160 + 1, 200) AS chunk
        |  FROM (SELECT doc_id, text,
        |          unnest(generate_series(0, (length(text) - 1) // 160)) AS i
        |        FROM documents WHERE length(text) >= 1))
        |SELECT doc_id, chunk_idx, chunk_idx * 160 + 1 AS chunk_start,
        |       length(chunk) AS n_chars, md5(chunk) AS chunk_id
        |FROM ch""".stripMargin
  )
}
