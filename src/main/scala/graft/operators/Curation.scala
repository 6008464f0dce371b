package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** End-to-end corpus curation: the stage composition a training-data
  * pipeline actually runs, assembled from the library's own operators.
  *
  * Per input document, four independent keep/drop verdicts:
  *  1. `exact_keep`  — exact dedup: min doc_id per md5(text) survives
  *     (one partial hash agg on the 16-byte digest; the keepers vote 1,
  *     everyone else defaults to 0; NULL texts are one group).
  *  2. `nd_keep`     — MinHash-LSH near-dup clustering
  *     ([[Dedup.nearDupPairs]] → [[GraphOps.connectedComponents]]): the
  *     cluster's min doc_id survives; docs in no candidate pair survive
  *     trivially (they never enter the edge set, so the CC cost scales
  *     with near-dups found, not corpus size).
  *  3. `quality_ok`  — Gopher-style gates: 10..2000 tokens and at least
  *     one English stopword.
  *  4. `clean`       — test-set decontamination: no 5-gram shared with
  *     the held-out benchmark (fixed-size broadcast, as in t10).
  *  5. `sem_keep`    — OPTIONAL semantic dedup ([[Similarity.semDedup]],
  *     the SemDedup recipe): pass per-doc embeddings `(doc_id, v)` and a
  *     centroid set (e.g. [[KMeans.lloyd]] output) and the cluster-wise
  *     cosine pass drops all but the lowest doc_id of each >=threshold
  *     group. Docs with no embedding row pass trivially. Omitted →
  *     constant 1 (the flag column is always present, so downstream
  *     schemas don't fork).
  *  6. `cls_keep`    — OPTIONAL hashed-linear-classifier gate (x6 model).
  *  7. `dsir_keep`   — OPTIONAL DSIR domain-matching gate
  *     ([[TextOps.dsirWeights]], the t30 engine): importance weight > 0
  *     keeps. Omitted → constant 1.
  *  8. `fert_keep`   — OPTIONAL tokenizer-fertility gate (the t36→t37
  *     engine): BPE merges trained on this corpus, word-type table
  *     encoded, drop docs whose token count exceeds fertilityMax per
  *     qualifying word. Column-gated (absent when disabled) so the
  *     pre-round-12 c1–c6 outputs stay byte-stable.
  *  `keep` = all of the above.
  *  9. `split`       — OPTIONAL leakage-free train/val/test assignment
  *     (the d17 bucket rule) keyed by the near-dup cluster's canonical
  *     id, computed from the component the nd votes carry into the one
  *     vote aggregation. Constant 'train' when disabled.
  *
  * Exposed three ways: this function (library), the `c1_curate` oracle
  * query (correctness gate; semantic core oracle-proven separately by
  * `s7_semdedup`), and `graft.Main curate` (CLI over parquet).
  */
object Curation extends QueryFamily {

  private val stopwords = Seq("the", "a", "of", "and", "in", "to")

  /** Flags per doc in `docs`; `test` is the held-out benchmark corpus.
    * `doc_id` must be unique and non-null in `docs`: the verdicts are
    * keyed by it, and near-dup banding ([[Dedup.nearDupPairs]]) bands
    * each row on its own. A duplicated id fails the vote aggregation
    * with an error naming the id; a null id fails the shingle kernels.
    * `semCentroidSet`: explicit `(cid, cv)` centroids for the semantic
    * stage (deterministic / oracle-checkable); default trains
    * [[KMeans.lloyd]] on the corpus vectors. */
  def curate(docs: DataFrame, test: DataFrame,
             embeddings: Option[DataFrame] = None,
             semCentroids: Int = 32,
             semThreshold: Double = 0.999,
             semCentroidSet: Option[DataFrame] = None,
             classifierMin: Option[Long] = None,
             dsirTargetLang: Option[String] = None,
             clusterSplit: Boolean = false,
             fertilityMax: Option[Long] = None): DataFrame = {
    // materialize the (doc_id, text) projection once: six verdict branches
    // consume it, and each would otherwise re-run the upstream lineage
    // (a parquet text scan at best, a whole strip/augment sub-DAG at
    // worst — c4 paid that before checkpointing its own input)
    // spread before the checkpoint: the checkpoint freezes the scan's
    // partitioning, and a single-row-group input would pin every verdict
    // branch's map side (shingles, md5, n-grams) to ONE task (see
    // Tables.spread — no-op for pre-split input)
    val base = graft.Tables.spread(
      docs.select(col("doc_id"), col("text")), col("doc_id")).localCheckpoint()
    val ws = split(col("text"), " ")

    // MEMBERSHIP NOTE: every input row gets a quality vote, so every doc
    // appears in the output. A doc with NULL text is an exact-dedup
    // candidate like any other: all NULL texts form one md5 group, whose
    // minimum doc_id gets exact_keep = 1 and the others 0.
    // Verdict branches emit VOTES — (doc_id, fi, v) rows, sparse where a
    // branch only has evidence for some docs — and ONE hash aggregation
    // assembles every flag (r13, guide §2.4 "share one exchange"): the
    // former shape joined 7-8 per-doc flag tables pairwise on doc_id
    // (each join an exchange of both sides + a sort/hash), and the
    // sparse branches (nd/clean/sem/fert) each paid an extra base-sized
    // densify join first. Per-flag defaults are applied in the
    // aggregation's coalesce, so the sparse branches ship only their
    // evidence rows. quality votes for EVERY doc, so the groupBy covers
    // the full corpus and row membership is unchanged.

    // 1. exact dedup — sparse keeper votes (fi 0): the min doc_id of each
    //    md5(text) group votes 1 and every other doc defaults to 0. Partial
    //    aggregation takes the min map-side, so a text copied a million
    //    times ships one row per map task, not every copy to one task.
    val exactV = base.groupBy(md5(col("text").cast("binary")))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"), lit(1).as("v"))

    // 2. near-dup clusters — sparse: only docs in some candidate pair
    //    (the CC table) vote; everyone else defaults to keep (fi 1). The
    //    votes carry the component, which the split (9) is keyed by.
    val comp = GraphOps.connectedComponents(
      Dedup.nearDupPairs(base).select(col("a").as("x"), col("b").as("y")))
    val ndV = comp.select(col("node").as("doc_id"),
      (col("node") === col("component")).cast("int").as("v"), col("component").as("c"))

    // 3. quality gates — dense votes (fi 2)
    val nt = size(ws)
    val sw = size(filter(ws, w => w.isInCollection(stopwords)))
    val qualityV = base.select(col("doc_id"),
      when(nt.between(10, 2000) && sw >= 1, 1).otherwise(0).as("v"))

    // 4. decontamination — sparse: only dirty docs vote 0 (fi 3), one row
    //    per shared 5-gram; the aggregation's max absorbs the repeats
    val testSh = Shingles.wordNGrams(test.select(col("doc_id"), col("text")), 5)
      .select("sh").distinct()
    val cleanV = Shingles.wordNGrams(base, 5)
      .join(broadcast(testSh), "sh")
      .select(col("doc_id"), lit(0).as("v"))

    // 5. optional semantic dedup — sparse: only embedded docs vote; a doc
    //    with no embedding defaults to keep (fi 4)
    val semV = embeddings.map { emb =>
      // ONLY corpus vectors participate: a held-out doc's embedding must
      // neither train the centroids nor drop a corpus doc that happens
      // to share its vector (the test split is evaluation data, not a
      // dedup peer) — hence the semi-join before lloyd/semDedup
      // materialized: semDedup and the kept join both consume it, and
      // its lineage (an embeddings self-join upstream in c2) is not free
      val vs = emb.select(col("doc_id").as("vec_id"), col("v"))
        .join(base.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_semi")
        .localCheckpoint()
      val cents = semCentroidSet.getOrElse(
        KMeans.lloyd(vs, semCentroids, iters = 2))
        .select(col("cid"), col("cv"))
      val kept = Similarity.semDedup(vs, cents, semThreshold)
        .select(col("vec_id").as("doc_id")).withColumn("sk", lit(1))
      // embedded but not in kept → dropped; no embedding → no vote (keep)
      vs.select(col("vec_id").as("doc_id"))
        .join(kept, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("sk"), lit(0)).as("v"))
    }

    // 6. optional hashed-linear-classifier gate ([[Sketches.linearScore]],
    //    the x6 model): score > threshold keeps — dense votes (fi 5); the
    //    flag column stays ALWAYS present (constant 1 when disabled) so
    //    downstream schemas never fork.
    val clsV = classifierMin.map { thr =>
      Sketches.linearScore(base)
        .select(col("doc_id"),
          when(col("score") > thr, 1).otherwise(0).as("v"))
    }

    // 7. optional DSIR domain-matching gate ([[TextOps.dsirWeights]], the
    //    t30 engine): importance weight > 0 keeps — dense votes (fi 6);
    //    needs `lang` on the input docs (only consulted when enabled)
    val dsirV = dsirTargetLang.map { tl =>
      TextOps.dsirWeights(docs.select(col("doc_id"), col("lang"), col("text")), tl)
        .select(col("doc_id"),
          when(col("logw_bits") > 0, 1).otherwise(0).as("v"))
    }

    // 8. optional tokenizer-fertility gate (the t36→t37 engine composed
    //    as a curation verdict — the tokenizer-health screen a training
    //    pipeline runs): train K=8 BPE merges on THIS corpus, encode the
    //    word-type table, and drop docs whose token count exceeds
    //    fertilityMax × word count (integer rule — no division, no
    //    floats). Words outside ^[a-z]{2,}$ carry no tokenizer evidence
    //    and count on neither side; docs with no qualifying word pass
    //    trivially. Scale: the merge table is K driver rows, the encoded
    //    vocab is word-TYPE-sized and broadcast — the only corpus-sized
    //    work is one explode + hash agg per doc.
    val fert: Option[DataFrame] = fertilityMax.map { maxPerWord =>
        // ONE word-type state for the whole gate (r14): train consumed a
        // persisted bpeState0 and the encode then rebuilt the SAME state
        // from scratch — a second corpus-scale explode + hash agg.
        // bpeTrainEncode localCheckpoints the (vocab-sized, tiny) state
        // once; the K training collects and the encode fold all read it
        // back, and the train subtree appears once in the plan.
        val enc = TextOps.bpeTrainEncode(base, 8)
          .select(col("w"), (size(split(col("st"), "  ")) - 2).cast("long").as("n_tokens"))
        // sparse votes (fi 7): only docs with >= 1 qualifying word carry
        // tokenizer evidence; the rest default to keep in the aggregation
        base.select(col("doc_id"), explode(ws).as("w"))
          .filter(col("w").rlike("^[a-z]{2,}$"))
          .join(broadcast(enc), "w")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_w"), sum(col("n_tokens")).as("n_tok"))
          .select(col("doc_id"),
            when(col("n_tok") <= lit(maxPerWord) * col("n_w"), 1)
              .otherwise(0).as("v"))
    }

    // ---- one-shuffle verdict assembly -----------------------------------
    // (fi, votes, default, flag name) — disabled optional stages appear as
    // constant-1 columns after the aggregation (schemas never fork);
    // fert_keep stays COLUMN-GATED (present only when the stage is
    // enabled): the stage landed in round 12 and the c1–c6 outputs are
    // pinned byte-stable across rounds (VERDICT r11 #7's done condition),
    // so a new constant column may not appear in them.
    val voteTables: Seq[(Int, DataFrame, Int, String)] =
      Seq((0, exactV, 0, "exact_keep"), (1, ndV, 1, "nd_keep"),
        (2, qualityV, 0, "quality_ok"), (3, cleanV, 1, "clean")) ++
        semV.map((4, _, 1, "sem_keep")) ++ clsV.map((5, _, 1, "cls_keep")) ++
        dsirV.map((6, _, 1, "dsir_keep")) ++ fert.map((7, _, 1, "fert_keep"))
    // the nd votes carry their component as `c`; every other vote leaves
    // it null
    val unioned = voteTables
      .map { case (i, df, _, _) =>
        df.select(col("doc_id"), lit(i).as("fi"), col("v").cast("int").as("v"),
          (if (i == 1) col("c") else lit(null).cast("long")).as("c")) }
      .reduce(_.unionByName(_))
    // doc_id contract: quality votes are dense (one per input row), so a
    // count above 1 is a duplicated id — fail the aggregation rather than
    // merge the copies' verdicts (near-dup banding has already treated
    // the copies as separate documents). exact_keep carries the check, so
    // it costs no extra job.
    val nRows = count(when(col("fi") === 2, 1))
    val dupId = raise_error(concat(lit("Curation.curate: doc_id "),
      coalesce(col("doc_id").cast("string"), lit("null")), lit(" appears "),
      nRows.cast("string"), lit(" times; doc_id must be unique per document")))
    val aggs = voteTables.map { case (i, _, dflt, name) =>
      val v = max(when(col("fi") === i, col("v")))
      coalesce(if (i == 0) when(nRows > 1, dupId).otherwise(v) else v, lit(dflt)).as(name)
    } :+ min(col("c")).as("component")
    val aggd = unioned.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
    val withConsts = Seq(("sem_keep", semV), ("cls_keep", clsV), ("dsir_keep", dsirV))
      .foldLeft(aggd) { case (df, (name, opt)) =>
        if (opt.isDefined) df else df.withColumn(name, lit(1))
      }
    val flags = Seq(col("exact_keep"), col("nd_keep"), col("quality_ok"),
      col("clean"), col("sem_keep"), col("cls_keep"), col("dsir_keep")) ++
      (if (fert.isDefined) Seq(col("fert_keep")) else Nil)

    // 9. optional leakage-free split assignment (the d17 engine): the md5
    //    bucket is keyed by the near-dup CLUSTER's canonical id — the
    //    component the nd votes brought into the aggregation, or the doc's
    //    own id when it is in no candidate pair — so a whole duplicate
    //    cluster lands in one split atomically. A projection: no join, no
    //    second read of the CC table. Constant 'train' when disabled
    //    (schemas never fork).
    val splitCol =
      if (!clusterSplit) lit("train")
      else {
        val h = md5(coalesce(col("component"), col("doc_id")).cast("string").cast("binary"))
        def hv(i: Int): Column = {
          val a = ascii(substring(h, i, 1))
          a - when(a >= 97, 87).otherwise(48)
        }
        val bucket = hv(1) * 16 + hv(2)
        when(bucket < 13, "test").when(bucket < 26, "val").otherwise("train")
      }
    withConsts.select(col("doc_id") +: flags :+
      flags.reduce(_ * _).as("keep") :+ splitCol.as("split"): _*)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // -- the full pipeline over the real corpus: train = doc_id%100 != 0,
    // benchmark = doc_id%100 == 0 (same split as t10/d9) ------------------
    "c1_curate" -> ((s, d) => {
      val doc = documents(s, d)
      curate(doc.filter(col("doc_id") % 100 =!= 0),
        doc.filter(col("doc_id") % 100 === 0))
    }),

    // -- the same pipeline with the SEMANTIC stage live -------------------
    // deterministic embedding branch: doc i carries the embedding of
    // vec_id = i div 2, so even/odd doc pairs are exact semantic dups and
    // the odd one must get sem_keep = 0. Pairs whose even member is a
    // TEST doc (0/1, 100/101, ...) prove the corpus-only rule: the
    // held-out vector must NOT drop its train twin, so doc 1 stays kept —
    // an implementation that lets test embeddings into the dedup fails
    // this oracle. Centroids are the fixed train-side seed set (cid < 32),
    // the same deterministic convention as s5/s7.
    "c2_curate_sem" -> ((s, d) => {
      val doc = documents(s, d)
      val e = embeddings(s, d)
      val emb = e.select(col("vec_id").as("doc_id"), expr("vec_id div 2").as("src"))
        .join(e.select(col("vec_id").as("src"), col("embedding")), "src")
        .select(col("doc_id"),
          transform(col("embedding"), x => x.cast("double")).as("v"))
      val cents = emb
        .filter(col("doc_id") < 32 && col("doc_id") % 100 =!= 0)
        .select(col("doc_id").as("cid"), col("v").as("cv"))
      curate(doc.filter(col("doc_id") % 100 =!= 0),
        doc.filter(col("doc_id") % 100 === 0),
        embeddings = Some(emb), semCentroidSet = Some(cents))
    }),

    // -- the pipeline with a BOILERPLATE pre-stage ------------------------
    // the RefinedWeb/C4 stage ORDER: per-source boilerplate removal
    // (d15's engine) transforms text BEFORE every downstream verdict, so
    // dedup/quality/decontamination judge the content, not the shared
    // site chrome. Runs on the d15 synthetic-header corpus (both engines
    // build it) so the stage bites at every sf; docs stripped to nothing
    // drop out entirely — the curation report then simply has no row for
    // them, as a real pipeline's would.
    "c4_curate_bp" -> ((s, d) => {
      val doc = documents(s, d)
      val aug = doc.filter(col("doc_id") % 100 =!= 0)
        .select(col("doc_id"), col("source"),
          concat(lit("site header for "), col("source"), lit(" menu "),
            col("text")).as("text"))
      // materialize the stripped corpus ONCE before the verdict fan-out:
      // curate() reads its input from six independent branches, and
      // without the checkpoint each re-runs the whole boilerplate-strip
      // sub-DAG (its groupBys included). Same move a production pipeline
      // makes — write the cleaned text, then curate the materialization.
      val cleaned = Dedup.stripBoilerplate(aug, 4, 3)
        .select(col("doc_id"), col("clean_text").as("text"))
        .localCheckpoint()
      curate(cleaned, doc.filter(col("doc_id") % 100 === 0))
    }),

    // -- the pipeline with the CLASSIFIER gate live -----------------------
    // quality-model filtering (the x6 hashed linear scorer) composed as a
    // fifth verdict: cls_keep = score > 0. Exercises the stage the big
    // curation recipes (C4/FineWeb-style) put after dedup: a cheap model
    // gate over every surviving doc.
    "c3_curate_cls" -> ((s, d) => {
      val doc = documents(s, d)
      curate(doc.filter(col("doc_id") % 100 =!= 0),
        doc.filter(col("doc_id") % 100 === 0),
        classifierMin = Some(0L))
    }),

    // -- the pipeline with the DSIR gate live ------------------------------
    // domain-matching selection (the t30 engine) composed as the seventh
    // verdict: importance weight vs the lang='en' target distribution,
    // dsir_keep = logw > 0. Exercises the stage order the data-selection
    // recipes use: dedup/quality first, importance RESAMPLING over what
    // survives — the p/q distributions are fit on the train split itself,
    // exactly as the library stage does.
    "c5_curate_dsir" -> ((s, d) => {
      val doc = documents(s, d)
      curate(doc.filter(col("doc_id") % 100 =!= 0),
        doc.filter(col("doc_id") % 100 === 0),
        dsirTargetLang = Some("en"))
    }),

    // -- the pipeline with the TOKENIZER-FERTILITY gate live ---------------
    // t36→t37 composed as a curation verdict (VERDICT r11 #7): K=8 BPE
    // merges trained on the train split itself, the word-type table
    // encoded under them, and fert_keep = 0 for docs whose BPE token
    // count exceeds 4 tokens per qualifying word — the tokenizer-health
    // screen that drops docs the tokenizer fragments pathologically.
    // The oracle replays train→apply→gate through the SHARED ladder
    // builder (TextOps.bpeLadderCtes), so the chain cannot drift from
    // t36/t37's.
    "c7_curate_fert" -> ((s, d) => {
      val doc = documents(s, d)
      curate(doc.filter(col("doc_id") % 100 =!= 0),
        doc.filter(col("doc_id") % 100 === 0),
        fertilityMax = Some(4L))
    }),

    // -- the pipeline with the LEAKAGE-FREE SPLIT live ---------------------
    // d17's cluster-keyed train/val/test assignment composed as the final
    // curation stage, reusing the connected-components table the nd
    // verdict already computed: every near-dup cluster lands in one split
    // atomically, so curated data can be split without near-dup leakage.
    "c6_curate_split" -> ((s, d) => {
      val doc = documents(s, d)
      curate(doc.filter(col("doc_id") % 100 =!= 0),
        doc.filter(col("doc_id") % 100 === 0),
        clusterSplit = true)
    })
  )

  // Oracle: same four verdicts assembled from the d2/d3/d7/t2/t10 oracle
  // fragments, over the unaugmented train split; `sem = true` appends the
  // s7 semantic-dedup fragment (fixed seed centroids, corpus vectors only)
  // and folds sem_keep into keep.
  private def curateOracle(sem: Boolean, cls: Boolean = false,
                           bp: Boolean = false, dsir: Boolean = false,
                           split: Boolean = false,
                           fert: Boolean = false): String = {
      // `bp = true` swaps the raw train split for its d15
      // boilerplate-stripped form (synthetic-header corpus, word 4-grams
      // in >= 3 docs of a source removed, survivors reassembled)
      val trainCte =
        if (!bp) "train AS (SELECT doc_id, text, lang FROM documents WHERE doc_id % 100 <> 0),"
        else
          """baug AS (SELECT doc_id, source,
            |           'site header for ' || source || ' menu ' || text AS text
            |         FROM documents WHERE doc_id % 100 <> 0),
            |btok AS (SELECT doc_id, source, i - 1 AS i, ws[i] AS w,
            |           CASE WHEN i <= len(ws) - 3
            |                THEN array_to_string(ws[i:i+3], ' ') END AS g
            |         FROM (SELECT doc_id, source, string_split(text, ' ') AS ws,
            |                      unnest(generate_series(1, len(string_split(text, ' ')))) AS i
            |               FROM baug)),
            |bbp AS (SELECT source, g FROM btok WHERE g IS NOT NULL
            |        GROUP BY source, g HAVING COUNT(DISTINCT doc_id) >= 3),
            |bcov AS (SELECT DISTINCT t.doc_id, t.i + d.k AS ci
            |         FROM btok t JOIN bbp b ON t.source = b.source AND t.g = b.g
            |         CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS k) d),
            |bkept AS (SELECT t.doc_id, t.i, t.w FROM btok t
            |          LEFT JOIN bcov c ON t.doc_id = c.doc_id AND t.i = c.ci
            |          WHERE c.doc_id IS NULL),
            |train AS (SELECT doc_id, string_agg(w, ' ' ORDER BY i) AS text
            |          FROM bkept GROUP BY doc_id),""".stripMargin
      val clsCte =
        """clsk AS (SELECT doc_id,
          |    CASE WHEN CAST(SUM(w) AS BIGINT) > 0 THEN 1 ELSE 0 END AS ck
          |  FROM (SELECT doc_id,
          |      (ascii(substring(md5(tok), 1, 1)) * 7 +
          |       ascii(substring(md5(tok), 2, 1))) % 41 - 20 AS w
          |    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
          |          FROM train))
          |  GROUP BY doc_id)""".stripMargin
      val clsExpr = if (cls) "clsk.ck" else "1"
      val clsJoin = if (cls) "\nJOIN clsk ON clsk.doc_id = t.doc_id" else ""
      // the t30 DSIR fragment over the train split (p/q fit on train, as
      // the library stage does) — the SHARED builder, so the quantization
      // arithmetic cannot drift from t30's oracle; dk = importance
      // weight > 0
      val dsirCte =
        TextOps.dsirOracleCtes("train", "en", pre = "ds") + ",\n" +
        """dsirk AS (SELECT t.doc_id,
          |            CASE WHEN coalesce(logw_bits, 0) > 0 THEN 1 ELSE 0 END AS dk
          |          FROM train t LEFT JOIN dsper ON dsper.doc_id = t.doc_id)""".stripMargin
      val dsirExpr = if (dsir) "dsirk.dk" else "1"
      val dsirJoin = if (dsir) "\nJOIN dsirk ON dsirk.doc_id = t.doc_id" else ""
      // the c7 fertility fragment: the t36/t37 ladder over the train split
      // (shared builder — the merge chain cannot drift), the encoded
      // word-type table read after the final merge, and the integer gate
      // n_tok <= 4 * n_w (docs with no qualifying word pass trivially)
      val fertCtes =
        TextOps.bpeLadderCtes(8, "train") + ",\n" +
        """fenc AS (SELECT w, CAST(len(string_split(st, '  ')) - 2 AS BIGINT) AS n_tokens FROM s8),
          |fwords AS (SELECT doc_id, w FROM (
          |             SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM train)
          |           WHERE regexp_matches(w, '^[a-z]{2,}$')),
          |fstat AS (SELECT doc_id, COUNT(*) AS n_w, SUM(e.n_tokens) AS n_tok
          |          FROM fwords f JOIN fenc e USING (w) GROUP BY doc_id),
          |fertk AS (SELECT t.doc_id,
          |            CASE WHEN f.doc_id IS NULL OR n_tok <= 4 * n_w THEN 1 ELSE 0 END AS fk
          |          FROM train t LEFT JOIN fstat f ON f.doc_id = t.doc_id)""".stripMargin
      val fertExpr = if (fert) "fertk.fk" else null
      val fertJoin = if (fert) "\nJOIN fertk ON fertk.doc_id = t.doc_id" else ""
      val semCtes = if (!sem) "" else
        """embt AS (SELECT d.vec_id AS doc_id, s.embedding::DOUBLE[] AS v
          |         FROM embeddings d
          |         JOIN embeddings s ON s.vec_id = d.vec_id // 2
          |         JOIN train t ON t.doc_id = d.vec_id),
          |en AS (SELECT doc_id, v, list_dot_product(v, v) AS n2 FROM embt),
          |ecents AS (SELECT doc_id AS cid, v AS cv, n2 AS cn2 FROM en
          |           WHERE doc_id < 32),
          |eassigned AS (
          |  SELECT doc_id, v, n2, cid AS cell FROM (
          |    SELECT en.doc_id, en.v, en.n2, c.cid,
          |      ROW_NUMBER() OVER (PARTITION BY en.doc_id
          |        ORDER BY list_dot_product(en.v, c.cv) / sqrt(en.n2 * c.cn2) DESC, c.cid) AS arn
          |    FROM en CROSS JOIN ecents c) WHERE arn = 1),
          |edropped AS (
          |  SELECT DISTINCT b.doc_id AS b
          |  FROM eassigned a JOIN eassigned b ON a.cell = b.cell AND a.doc_id < b.doc_id
          |  WHERE list_dot_product(a.v, b.v) / sqrt(a.n2 * b.n2) >= 0.999),
          |semk AS (SELECT doc_id,
          |           CASE WHEN doc_id IN (SELECT b FROM edropped) THEN 0 ELSE 1 END AS sk
          |         FROM embt)""".stripMargin
      val semExpr =
        if (sem) "CASE WHEN semk.doc_id IS NULL THEN 1 ELSE semk.sk END"
        else "1"
      val semJoin = if (sem) "\nLEFT JOIN semk ON semk.doc_id = t.doc_id" else ""
      val sw = stopwords.map(w => s"'$w'").mkString(", ")
      // the d17 bucket rule over the cluster canon (doc_id when the doc
      // is in no near-dup cluster) — constant 'train' when disabled, so
      // the engine's never-forking schema has its oracle twin
      val splitExpr =
        if (!split) "'train'"
        else {
          val h = "md5(CAST(coalesce(clu.cluster, t.doc_id) AS VARCHAR))"
          s"""CASE WHEN (ascii(substring($h,1,1)) -
             |      CASE WHEN ascii(substring($h,1,1)) >= 97 THEN 87 ELSE 48 END) * 16 +
             |    (ascii(substring($h,2,1)) -
             |      CASE WHEN ascii(substring($h,2,1)) >= 97 THEN 87 ELSE 48 END) < 13
             |    THEN 'test'
             |  WHEN (ascii(substring($h,1,1)) -
             |      CASE WHEN ascii(substring($h,1,1)) >= 97 THEN 87 ELSE 48 END) * 16 +
             |    (ascii(substring($h,2,1)) -
             |      CASE WHEN ascii(substring($h,2,1)) >= 97 THEN 87 ELSE 48 END) < 26
             |    THEN 'val'
             |  ELSE 'train' END""".stripMargin
        }
      s"""WITH RECURSIVE
        |$trainCte
        |test AS (SELECT doc_id, text FROM documents WHERE doc_id % 100 = 0),
        |ex AS (SELECT doc_id,
        |         CASE WHEN doc_id = MIN(doc_id) OVER (PARTITION BY md5(text))
        |              THEN 1 ELSE 0 END AS exact_keep
        |       FROM train),
        |sh AS (SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS sh
        |       FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws)-2)) AS i
        |             FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM train))),
        |""".stripMargin +
        {
          val mins = (0 until 8)
            .map(j => s"min(substring(md5(sh) || md5(sh || '|'), ${8 * j + 1}, 8)) AS h$j")
            .mkString(", ")
          s"sig AS (SELECT doc_id, $mins FROM sh GROUP BY doc_id),\n"
        } +
        {
          val rows = (0 until 4)
            .map(b => s"SELECT doc_id, $b AS bid, md5(h${2 * b} || h${2 * b + 1}) AS bh FROM sig")
            .mkString("\n  UNION ALL ")
          s"band AS (\n  $rows\n),\n"
        } +
        s"""pairs AS (
          |  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
          |  FROM band l JOIN band r
          |    ON l.bid = r.bid AND l.bh = r.bh AND l.doc_id < r.doc_id),
          |edges AS (SELECT a AS x, b AS y FROM pairs
          |          UNION SELECT b, a FROM pairs),
          |reach AS (
          |  SELECT x, y FROM edges
          |  UNION
          |  SELECT r.x, e.y FROM reach r JOIN edges e ON r.y = e.x),
          |clu AS (SELECT x AS doc_id,
          |          CASE WHEN x = least(x, MIN(y)) THEN 1 ELSE 0 END AS ndk,
          |          least(x, MIN(y)) AS cluster
          |        FROM reach GROUP BY x),
          |qual AS (SELECT doc_id,
          |           CASE WHEN len(string_split(text, ' ')) BETWEEN 10 AND 2000
          |                 AND len(list_filter(string_split(text, ' '),
          |                       w -> w IN ($sw))) >= 1
          |                THEN 1 ELSE 0 END AS quality_ok
          |         FROM train),
          |tsh AS (SELECT DISTINCT array_to_string(w[i:i+4], ' ') AS g
          |        FROM (SELECT w, unnest(generate_series(1, len(w) - 4)) AS i
          |              FROM (SELECT string_split(text, ' ') AS w FROM test))),
          |dirty AS (SELECT DISTINCT doc_id FROM (
          |            SELECT doc_id, array_to_string(w[i:i+4], ' ') AS g
          |            FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 4)) AS i
          |                  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM train)))
          |          JOIN tsh USING (g))""".stripMargin +
        (if (sem) ",\n" + semCtes else "") +
        (if (cls) ",\n" + clsCte else "") +
        (if (dsir) ",\n" + dsirCte else "") +
        (if (fert) ",\n" + fertCtes else "") + "\n" +
        s"""SELECT t.doc_id, ex.exact_keep,
          |  COALESCE(clu.ndk, 1) AS nd_keep,
          |  qual.quality_ok,
          |  CASE WHEN dirty.doc_id IS NULL THEN 1 ELSE 0 END AS clean,
          |  $semExpr AS sem_keep,
          |  $clsExpr AS cls_keep,
          |  $dsirExpr AS dsir_keep,
          |""".stripMargin +
        (if (fert) s"  $fertExpr AS fert_keep,\n" else "") +
        s"""  ex.exact_keep * COALESCE(clu.ndk, 1) * qual.quality_ok *
          |    (CASE WHEN dirty.doc_id IS NULL THEN 1 ELSE 0 END) * ($semExpr) *
          |    ($clsExpr) * ($dsirExpr)""".stripMargin +
        (if (fert) s" * ($fertExpr)" else "") + " AS keep,\n" +
        s"""  $splitExpr AS split
          |FROM train t
          |JOIN ex ON ex.doc_id = t.doc_id
          |LEFT JOIN clu ON clu.doc_id = t.doc_id
          |JOIN qual ON qual.doc_id = t.doc_id
          |LEFT JOIN dirty ON dirty.doc_id = t.doc_id$semJoin$clsJoin$dsirJoin$fertJoin""".stripMargin
  }

  def oracles: Map[String, String] = Map(
    "c1_curate" -> curateOracle(sem = false),
    "c2_curate_sem" -> curateOracle(sem = true),
    "c3_curate_cls" -> curateOracle(sem = false, cls = true),
    "c4_curate_bp" -> curateOracle(sem = false, bp = true),
    "c5_curate_dsir" -> curateOracle(sem = false, dsir = true),
    "c6_curate_split" -> curateOracle(sem = false, split = true),
    "c7_curate_fert" -> curateOracle(sem = false, fert = true)
  )
}
