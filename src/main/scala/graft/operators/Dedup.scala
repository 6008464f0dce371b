package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables._

/** Deduplication layer for large-scale text pipelines: exact dedup,
  * MinHash signatures, banded LSH candidate generation, exact-Jaccard
  * verification, and SimHash fingerprints.
  *
  * Scale design: everything is banded — candidate pairs come from
  * equality joins on (band_id, band_hash) buckets, never an all-pairs
  * cartesian; the exact Jaccard verify runs only on LSH candidates.
  * MinHash uses md5-based hashes so the DuckDB oracle reproduces the
  * exact same signatures (the at-scale variant would swap in xxhash64,
  * same plan shape).
  *
  * Near-dup pairs are scarce in the synthetic corpus, so the corpus is
  * augmented with a truncated copy of every document (doc_id offset past
  * the live id range, last 3 words dropped) — each original/truncated
  * pair is a true near-dup the LSH must find; both engines build the
  * same augmented corpus, so the oracle stays exact.
  */
object Dedup extends QueryFamily {
  private val NumHashes = 8
  private val NumBands = 4 // 2 rows per band

  // ------------------------------------------------------------ Spark side

  private def words: Column = split(col("text"), " ")

  /** documents + truncated near-dup copies, copies offset PAST the live
    * doc_id range: max(doc_id)+1 computed in-plan (a scalar subquery),
    * floored at the historical 100000 so current corpora keep their ids.
    * A fixed offset alone collides with real doc_ids once the corpus
    * outgrows it, silently binding two different texts to one id while
    * the oracle (which states the same GREATEST(MAX+1, 100000)) stays
    * green — the planted-near-dup ground truth must hold at EVERY sf. */
  private[operators] def corpus(s: SparkSession, d: String,
                                spread: Boolean = true): DataFrame = {
    // spread the scan before the shingle/md5 map side (single-row-group
    // input otherwise serializes it on one task — see Tables.spread).
    // Per-CONSUMER toggle (r14, VERDICT r13 #1): the verify-tail and
    // window-heavy consumers (d4/d6/d10/d13/d18) lose more to the extra
    // exchange + checkpoint barrier than their map side gains — ABBA mins
    // at sf0.1: d13 1.20 OFF vs 1.91 ON, d18 1.46 vs 2.26, d4 2.00 vs
    // 2.50, d6 1.73 vs 2.38, d10 2.02 vs 2.19 — while the signature-only
    // consumers keep it (d2 0.80 ON vs 1.03 OFF). At scale the choice is
    // moot: pre-split input passes through spread() untouched either way.
    val sel = documents(s, d).select(col("doc_id"), col("text"))
    val doc = if (spread) graft.Tables.spread(sel, col("doc_id")) else sel
    // the offset is a scalar subquery, not a 1-row cross join: d3's plan
    // holds this subtree and stays free of nested-loop joins
    val off = doc.agg(greatest(max(col("doc_id")) + 1, lit(100000L))).scalar()
    val truncated =
      concat_ws(" ", slice(words, lit(1), greatest(size(words) - 3, lit(1))))
    doc.select(col("doc_id"), col("text"))
      .union(doc.select((col("doc_id") + off).as("doc_id"), truncated.as("text")))
  }

  /** Word 3-shingles, one row each: (doc_id, sh) — via the JIT-compiled
    * [[Shingles.wordNGrams]] generator (the HOF-explode form ran
    * interpreted; see Shingles' doc). */
  private[operators] def shingled(c: DataFrame): DataFrame = Shingles.wordNGrams(c, 3)

  /** xxhash64-keyed DISTINCT set table of a shingle frame. Always
    * materialized: it has 3-5 consumers in every verify (sizes + both
    * sides of the intersection join) and each would otherwise re-run the
    * full-table distinct shuffle. Long keys mean the distinct, sizes and
    * intersection joins all shuffle 8-byte keys, never n-gram strings
    * (the g14 lesson; a 2^-64 collision could perturb one intersection
    * count — negligible and deterministic). */
  private def setsOf(sh: DataFrame): DataFrame =
    sh.select(col("doc_id"), xxhash64(col("sh")).as("shk"))
      .distinct().localCheckpoint()

  /** The shared exact-verification tail of d4/d6/d10: per-pair
    * intersection counts + set sizes over `sets`, scored by
    * `score(i, na, nb)` (rounded to 4 decimals as `scoreName`) and
    * thresholded at `minScore`. ONE definition so the three verifies
    * cannot drift; the oracle twin is sqlVerifyCtes/sqlVerifySelect. */
  private def verifyPairs(sets: DataFrame, pairs: DataFrame,
                          scoreName: String, minScore: Double)
                         (score: (Column, Column, Column) => Column): DataFrame = {
    val sizes = sets.groupBy("doc_id").agg(count(lit(1)).as("nsz"))
    val inter = pairs
      .join(sets.select(col("doc_id").as("a"), col("shk")), "a")
      .join(sets.select(col("doc_id").as("b"), col("shk")), Seq("b", "shk"))
      .groupBy("a", "b").agg(count(lit(1)).as("i"))
    inter
      .join(sizes.select(col("doc_id").as("a"), col("nsz").as("na")), "a")
      .join(sizes.select(col("doc_id").as("b"), col("nsz").as("nb")), "b")
      .select(col("a"), col("b"),
        round(score(col("i").cast("double"), col("na"), col("nb")), 4).as(scoreName))
      .filter(col(scoreName) >= minScore)
  }

  /** MinHash signatures from an exploded shingle table: (doc_id, h0..h7),
    * one map-side-combined shuffle of 8 fixed 8-char mins per doc. The 8
    * hash families come from TWO md5 digests per shingle (not 8): h_j is
    * the j-th non-overlapping 8-hex-char (32-bit) window of
    * md5(sh) ++ md5(sh ++ "|") — non-overlapping windows of a
    * cryptographic digest are independent uniform draws, so minhash
    * quality is unchanged at half the hashing. Fixed-width lowercase hex
    * makes string min() == numeric min.
    *
    * Deliberately explode+groupBy, NOT a per-row higher-order-function
    * formulation: Spark's array HOFs (`transform`/`array_min`) are
    * CodegenFallback, and the measured per-row variant ran ~3x slower at
    * sf0.1 than this codegen'd md5 + partial-aggregate pipeline. The
    * shuffle it saves is tiny anyway (64 B/doc of partial mins after
    * map-side combine). */
  private[operators] def signatures(sh: DataFrame): DataFrame = {
    val digests = concat(md5(col("sh").cast("binary")),
      md5(concat(col("sh"), lit("|")).cast("binary")))
    val withD = sh.withColumn("dg", digests)
    val aggs = (0 until NumHashes).map(j =>
      min(substring(col("dg"), 8 * j + 1, 8)).as(s"h$j"))
    withD.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
  }

  /** The AT-SCALE MinHash family: xxhash64 end to end — 8-byte longs
    * where [[signatures]] carries 8-hex-char substrings of md5 digests.
    * The md5 family exists ONLY because DuckDB can reproduce it for the
    * oracle gate; at 100 TB the hashing cost and the shuffled signature
    * width both matter, and xxhash64 is a codegen'd native expression
    * (one long per hash, seed = the hash index) with no hex-string
    * materialization anywhere in the plan. Same plan shape as the md5
    * path: explode -> partial-aggregated min per doc -> banded equi-join;
    * the FINAL verified near-dup set is hash-invariant (DedupSpec proves
    * set equality; d18 proves it through the d4 oracle), because exact
    * Jaccard verification depends only on the shingle sets, and both
    * families band the planted near-dups together. */
  private[operators] def signaturesFast(sh: DataFrame): DataFrame = {
    val aggs = (0 until NumHashes).map(j =>
      min(xxhash64(lit(j), col("sh"))).as(s"h$j"))
    sh.groupBy("doc_id").agg(aggs.head, aggs.tail.toIndexedSeq: _*)
  }

  /** Banded buckets for the xxhash64 family: bh = xxhash64(bid, h2b,
    * h2b+1) — a long, so the candidate self-join shuffles 8-byte keys. */
  private[operators] def bandsFast(sig: DataFrame): DataFrame = {
    val bandStructs = (0 until NumBands).map(b =>
      struct(lit(b).as("bid"),
        xxhash64(lit(b), col(s"h${2 * b}"), col(s"h${2 * b + 1}")).as("bh")))
    sig.select(col("doc_id"), explode(array(bandStructs.toIndexedSeq: _*)).as("band"))
      .select(col("doc_id"), col("band.bid").as("bid"), col("band.bh").as("bh"))
  }

  /** d4's full verify pipeline with a selectable hash family — the
    * `fastHash` flag swaps the md5 oracle family for the at-scale
    * xxhash64 one. The two families' CANDIDATE sets differ at the
    * low-similarity tail (LSH recall at 2-row/4-band is probabilistic
    * per family: each misses a different handful of J≈0.6–0.77 pairs),
    * but in the high-confidence regime the per-pair miss probability
    * (1-J²)⁴ is small enough that both families recall every pair —
    * DedupSpec measures the tail divergence and proves set equality at
    * J ≥ 0.8, which is what d18 gates through the md5 oracle. */
  private[operators] def jaccardVerified(docs: DataFrame, fastHash: Boolean,
                                         minScore: Double = 0.5): DataFrame = {
    val sh = shingled(docs).localCheckpoint()
    val bd = if (fastHash) bandsFast(signaturesFast(sh)) else bands(signatures(sh))
    verifyPairs(setsOf(sh), candidatePairsFrom(bd),
      "jaccard", minScore)((i, na, nb) => i / (na + nb - i))
  }

  /** Banded buckets: (doc_id, bid, bh). */
  private[operators] def bands(sig: DataFrame): DataFrame = {
    val bandStructs = (0 until NumBands).map(b =>
      struct(lit(b).as("bid"),
        md5(concat(col(s"h${2 * b}"), col(s"h${2 * b + 1}")).cast("binary")).as("bh")))
    sig.select(col("doc_id"), explode(array(bandStructs: _*)).as("band"))
      .select(col("doc_id"), col("band.bid").as("bid"), col("band.bh").as("bh"))
  }

  /** LSH candidate pairs (a < b), distinct: the doc pairs sharing a
    * (bid, bh) bucket of the band table, through [[Skew.bucketPairs]]. */
  private[operators] def candidatePairsFrom(bd: DataFrame,
                                            cap: Int = Skew.BucketCap): DataFrame =
    Skew.bucketPairs(bd, struct(col("bid"), col("bh")), col("doc_id"), lit(0L), cap)(
      (_, _) => true).select(col("a"), col("b"))

  /** d3/d7/d17's candidate pairs over [[corpus]], banded per row by
    * [[bandRows]]: corpus ids are unique by construction (the truncated
    * copies are offset past max(doc_id)). */
  private def candidatePairs(s: SparkSession, d: String): DataFrame =
    candidatePairsFrom(bandRows(corpus(s, d)))

  /** Library surface: MinHash-LSH near-dup candidate pairs `(a, b)`,
    * a < b, distinct, over an arbitrary `(doc_id, text)` frame — the
    * banded plan the d2/d3 queries demonstrate, callable on real data
    * (used by [[Curation.curate]] and the `curate` CLI). A pair is every
    * two docs sharing one of the 4 (band, hash) buckets, enumerated by
    * [[Skew.bucketPairs]], so a hot bucket (thousands of copies of one
    * text) splits into block-pair groups instead of one quadratic task.
    * It bands each row in one task with [[bandRows]] (md5 family, no
    * shingle rows, no signature shuffle; byte-identical to
    * `bands(signatures(...))`), so `doc_id` MUST be unique in `docs`:
    * rows sharing an id are banded separately instead of merged into one
    * signature. */
  def nearDupPairs(docs: DataFrame): DataFrame =
    candidatePairsFrom(bandRows(docs.select(col("doc_id"), col("text"))))

  /** The LSH band table `(doc_id, bid, bh)` computed PER ROW in one typed
    * pass — byte-identical to `bands(signatures(shingled(docs)))` (spec:
    * DedupSpec) but with ZERO shuffles: shingling, the two md5 digests,
    * the 8 window minima and the band hashes all happen inside one task
    * for each document. Two uses: (a) it is streaming-safe (a stateless
    * projection, so a stream of documents can band itself without a
    * state store — es16 builds its incremental dedup gate on it), and
    * (b) in batch it removes the shingle-explode shuffle when only the
    * bands are needed. Docs with fewer than 3 tokens emit nothing — the
    * same contract as the explode+groupBy form, whose signature
    * aggregation sees no shingle rows for them.
    *
    * PRECONDITION: `doc_id` must be unique in `docs`. The batch twin
    * aggregates shingles across ALL rows sharing a doc_id into one
    * signature, while this per-row kernel bands each input row
    * independently — duplicate ids would yield duplicate (or, for
    * differing texts, conflicting) band rows and silently diverge from
    * the batch result. Current callers satisfy this: es16's stream and
    * d3/d7/d17's corpus (ids unique by construction), and
    * [[nearDupPairs]], whose contract passes it on ([[Curation.curate]]
    * fails loudly on a duplicated id). A caller that might replay an id
    * must dedupe by id first. */
  def bandRows(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val nh = NumHashes; val nb = NumBands
    docs.select(col("doc_id").cast("long"), col("text").cast("string"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        val hexc = "0123456789abcdef".toCharArray
        def md5hex(t: String): String = {
          val dg = md.digest(t.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          val out = new Array[Char](32)
          var i = 0
          while (i < 16) {
            out(2 * i) = hexc((dg(i) >> 4) & 0xf); out(2 * i + 1) = hexc(dg(i) & 0xf)
            i += 1
          }
          new String(out)
        }
        it.flatMap { case (id, text) =>
          val ws = if (text == null) Array.empty[String] else text.split(" ", -1)
          if (ws.length < 3) Iterator.empty
          else {
            val mins = new Array[String](nh)
            var i = 0
            while (i <= ws.length - 3) {
              val sh = ws(i) + " " + ws(i + 1) + " " + ws(i + 2)
              val dg = md5hex(sh) + md5hex(sh + "|")
              var j = 0
              while (j < nh) {
                val w = dg.substring(8 * j, 8 * j + 8)
                if (mins(j) == null || w < mins(j)) mins(j) = w
                j += 1
              }
              i += 1
            }
            (0 until nb).iterator.map(b =>
              (id, b, md5hex(mins(2 * b) + mins(2 * b + 1))))
          }
        }
      }.toDF("doc_id", "bid", "bh")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // -- exact dedup: hash-groupBy, keep min doc_id ------------------------
    "d1_exact_dedup" -> ((s, d) =>
      documents(s, d)
        .groupBy(md5(col("text").cast("binary")).as("h"))
        .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n"))),

    // -- MinHash signatures over word 3-shingles ---------------------------
    "d2_minhash_sig" -> ((s, d) => signatures(shingled(corpus(s, d)))),

    // -- banded LSH candidate pairs ----------------------------------------
    "d3_lsh_pairs" -> ((s, d) => candidatePairs(s, d)),

    // -- exact Jaccard verification of LSH candidates ----------------------
    "d4_jaccard_verify" -> ((s, d) =>
      jaccardVerified(corpus(s, d, spread = false), fastHash = false)),

    // -- d18: the AT-SCALE hash family through the md5 oracle ---------------
    // the xxhash64 MinHash/band pipeline (8-byte long hashes end to end;
    // NO md5 anywhere in the plan — pinned in DedupSpec) verified with
    // exact Jaccard at the high-confidence threshold 0.8. In that regime
    // the per-pair LSH miss probability (1-J²)⁴ ≤ 0.17% makes both hash
    // families recall every pair, so the verified output is
    // hash-invariant and gates against the md5-reproducible DuckDB
    // oracle even though the signatures themselves are irreproducible in
    // SQL. (At the 0.5 tail the families each miss a different handful
    // of borderline candidates — DedupSpec documents that divergence;
    // it is inherent to LSH, not to the hash swap.) */
    "d18_minhash_xx_verify" ->
      ((s, d) =>
        jaccardVerified(corpus(s, d, spread = false), fastHash = true, minScore = 0.8)),

    // -- near-dup clusters: connected components over LSH pairs ------------
    // the step real pipelines run after candidate generation: group
    // transitively-linked near-dups and keep one canonical doc (min id)
    // per cluster. Components come from [[GraphOps.connectedComponents]]
    // (hash-to-min, O(log n) rounds regardless of component diameter —
    // a chain of pairwise near-dups doesn't degrade into one shuffle
    // round per link).
    "d7_dedup_clusters" -> ((s, d) => {
      val pairs = candidatePairs(s, d)
      GraphOps.connectedComponents(
          pairs.select(col("a").as("x"), col("b").as("y")))
        .select(col("node").as("doc_id"), col("component").as("cluster"),
          when(col("node") === col("component"), 1).otherwise(0).as("keep"))
    }),

    // -- d17: leakage-free (cluster-aware) train/val/test split ------------
    // the split a deduplicated training corpus actually needs: t23 buckets
    // DOCUMENTS, so two near-duplicates can land in train and test and
    // leak evaluation data — the classic contamination path FineWeb/Pile
    // splits guard against. Here the md5 bucket is computed on the
    // near-dup CLUSTER's canonical id (d7's connected components over the
    // LSH candidate graph; singletons are their own cluster), so an
    // entire duplicate cluster moves to one side atomically. Scale shape:
    // CC cost scales with near-dups found (docs in no candidate pair
    // never enter the edge set), the cluster join is one equi-join on
    // doc_id, and the bucket is a pure codegen'd projection.
    "d17_cluster_split" -> ((s, d) => {
      val pairs = candidatePairs(s, d)
      val cc = GraphOps.connectedComponents(
        pairs.select(col("a").as("x"), col("b").as("y")))
      val clustered = corpus(s, d).select(col("doc_id"))
        .join(cc.select(col("node").as("doc_id"), col("component")),
          Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("cluster"))
      val h = md5(col("cluster").cast("string").cast("binary"))
      def hv(i: Int): Column = {
        val a = ascii(substring(h, i, 1))
        a - when(a >= 97, 87).otherwise(48)
      }
      val bucket = hv(1) * 16 + hv(2)
      clustered.select(col("doc_id"), col("cluster"),
        when(bucket < 13, "test").when(bucket < 26, "val")
          .otherwise("train").as("split"))
    }),

    // -- direct rare-n-gram Jaccard near-dup (no MinHash) ------------------
    // A different recall profile from LSH: candidate pairs share at least
    // one RARE shingle (document frequency 2..8). The df cap bounds every
    // bucket at C(8,2) pairs, so the self-join stays cartesian-free no
    // matter how large the corpus grows; ubiquitous shingles never
    // generate candidates. Exact Jaccard verifies candidates, as in d4.
    "d6_ngram_jaccard" -> ((s, d) => {
      val sh = shingled(corpus(s, d, spread = false)).localCheckpoint()
      val sets = setsOf(sh)
      val rare = sets.groupBy("shk").agg(count(lit(1)).as("df"))
        .filter(col("df").between(2, 8)).select("shk")
      val cand = sets.join(rare, "shk").localCheckpoint()
      val pairs = cand.select(col("shk"), col("doc_id").as("a"))
        .join(cand.select(col("shk").as("shk2"), col("doc_id").as("b")),
          col("shk") === col("shk2") && col("a") < col("b"))
        .select("a", "b").distinct()
      verifyPairs(sets, pairs, "jaccard", 0.5)((i, na, nb) => i / (na + nb - i))
    }),

    // -- sub-document (chunk-level) exact dedup: boilerplate strip ---------
    // CCNet/RefinedWeb-style: docs cut into non-overlapping 10-token
    // chunks; any chunk whose exact text occurs in MORE THAN ONE document
    // is shared boilerplate and is stripped from every doc. One hash agg
    // computes chunk document-frequency; the rebuild is a per-doc sorted
    // reassembly (array_sort on (pos, chunk) structs — no window). Chunk
    // df keys are content hashes, so the shuffle carries 16-byte keys at
    // 100 TB, and ubiquitous chunks never fan out (df agg, not self-join).
    "d8_chunk_dedup" -> ((s, d) => {
      val chunks = Shingles.wordChunks(documents(s, d), 10)
      val df = chunks.groupBy("chunk")
        .agg(countDistinct(col("doc_id")).as("df"))
      chunks.join(df, "chunk")
        .groupBy(col("doc_id"))
        .agg(
          count(lit(1)).as("n_chunks"),
          sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_stripped"),
          concat_ws(" ", transform(
            array_sort(collect_list(
              when(col("df") < 2, struct(col("pos"), col("chunk"))))),
            t => t.getField("chunk"))).as("clean"))
    }),

    // -- asymmetric containment (the text analogue of J9's contig dedup) ---
    // containment(a in b) = |A∩B| / |A|: catches a SHORT doc wholly quoted
    // inside a long one, which symmetric Jaccard misses (the union term
    // drowns it). Candidates still come from the banded LSH buckets —
    // no new candidate machinery, just the asymmetric verify on top.
    "d10_containment" -> ((s, d) => {
      val sh = shingled(corpus(s, d, spread = false)).localCheckpoint()
      verifyPairs(setsOf(sh), candidatePairsFrom(bands(signatures(sh))),
        "containment", 0.9)((i, na, nb) => i / least(na, nb))
    }),

    // -- bloom-filter decontamination --------------------------------------
    // the 100 TB form of test-set filtering: the test side is compiled
    // into a FIXED-SIZE bloom filter (bit space = 2^16, 3 hashes = three
    // non-overlapping 16-bit windows of md5(gram)), so the broadcast is
    // capped at 64 Ki positions no matter how large the test set grows —
    // unlike t10's exact-shingle broadcast, which grows with the test
    // set. A train 5-gram is flagged iff ALL THREE of its windows are
    // set; per-doc output counts flagged grams (true hits + the bloom's
    // deterministic false positives — both engines build the identical
    // filter, so the oracle is exact). Train side: one scan, one
    // broadcast join, one agg; no shuffle of the gram table.
    "d9_bloom_decontaminate" -> ((s, d) => {
      val wsd = split(col("text"), " ")
      def sh5(df: DataFrame): DataFrame = Shingles.wordNGrams(df, 5)
      val doc = documents(s, d)
      // planted train-side copies go past the live id range (floored at
      // the historical 300000 — same collision rationale as corpus())
      val off = broadcast(doc.agg(
        greatest(max(col("doc_id")) + 1, lit(300000L)).as("aug_off")))
      val testDocs = doc.filter(col("doc_id") % 100 === 0)
      val trainDocs = doc.filter(col("doc_id") % 100 =!= 0)
        .select(col("doc_id"), col("text"))
        .union(testDocs.crossJoin(off)
          .select((col("doc_id") + col("aug_off")).as("doc_id"),
            concat_ws(" ", slice(wsd, lit(1), greatest(size(wsd) - 2, lit(1)))).as("text")))
      def windows(c: Column): Column = array(
        substring(md5(c.cast("binary")), 1, 4),
        substring(md5(c.cast("binary")), 5, 4),
        substring(md5(c.cast("binary")), 9, 4))
      val bloom = sh5(testDocs)
        .select(explode(windows(col("sh"))).as("p")).distinct()
        .withColumn("hit", lit(1))
      // no pre-dedup of train grams: the groupBy(doc_id, sh) below merges
      // duplicate occurrences anyway, so a distinct() here would only add
      // a full extra shuffle of the gram table
      sh5(trainDocs)
        // the gram string is only a grouping key from here on — hash it
        // to a long so the per-gram shuffle moves 8-byte keys (see d4)
        .select(col("doc_id"), xxhash64(col("sh")).as("shk"),
          explode(windows(col("sh"))).as("p"))
        .join(broadcast(bloom), Seq("p"), "left")
        .groupBy(col("doc_id"), col("shk"))
        .agg(min(coalesce(col("hit"), lit(0))).as("all_set"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          sum(col("all_set")).as("n_flagged"))
        .filter(col("n_flagged") >= 1)
        .select(col("doc_id"), col("n_grams"), col("n_flagged").cast("long").as("n_flagged"),
          round(col("n_flagged").cast("double") / col("n_grams"), 4).as("flag_frac"))
    }),

    // -- SimHash (16-bit) over word bags -----------------------------------
    "d5_simhash" -> ((s, d) => {
      val tok = graft.Tables.spread(documents(s, d)
          .select(col("doc_id"), col("text")), col("doc_id"))
        .select(col("doc_id"), explode(words).as("w"))
        .withColumn("m", md5(col("w").cast("binary")))
      val bitSums = (0 until 16).map(j =>
        sum(when(ascii(substring(col("m"), j + 1, 1)) % 2 === 1, 1).otherwise(-1)).as(s"s$j"))
      val agg = tok.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
      val sim = (0 until 16).map(j =>
        when(col(s"s$j") > 0, 1 << j).otherwise(0)).reduce(_ + _)
      agg.select(col("doc_id"), sim.as("simhash"))
    }),

    // -- d11: banded SimHash near-dup pairing ------------------------------
    // completes the SimHash path the way d3/d4 complete MinHash: a 60-bit
    // signature (60 md5-parity bits — 60, not 64, so the sign bit never
    // enters shift/xor arithmetic in either engine), banded into 4x15-bit
    // keys. By pigeonhole, hamming <= 3 forces one identical band, so the
    // candidates are the pairs within a (band, value) bucket — never
    // all-pairs — and the exact popcount(xor) verify touches candidates
    // only. Like s2's sign-LSH, band width is the scale knob: 15 bits
    // suits ~10^5 docs; at 10^9 grow the signature and band to keep
    // random collisions ~n^2/2^width bounded (wider bands trade recall,
    // recovered by repeating with rotated bit orders).
    "d11_simhash_pairs" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      // signature via the native simhash60 TypedImperativeAggregate: one
      // aggregate column with an Array[Int](60) buffer (partial-merged
      // map-side) instead of 60 sum(CASE substring...) columns — same
      // bits, but no 60-way per-row expression fan-out and no
      // multi-second codegen compile of a 60-aggregate plan (measured:
      // 5.8 s -> the join-dominated remainder at sf0.1)
      val tok = corpus(s, d).select(col("doc_id"), explode(words).as("w"))
        .withColumn("m", concat(md5(col("w").cast("binary")),
          md5(concat(col("w"), lit("x")).cast("binary"))))
      val sig = tok.groupBy("doc_id").agg(expr("simhash60(m)").as("sig"))
      simhashPairs(sig)
    }),

    // -- d12: canonical-URL dedup ------------------------------------------
    // web-crawl dedup's cheapest and highest-yield pass: the same page
    // arrives under host-case variants, tracking query params (utm_*),
    // fragments, and trailing slashes; canonicalize (lowercase scheme+host
    // only — paths are case-sensitive — strip fragment, utm query,
    // trailing '/') and keep the smallest doc_id per canonical URL. Pure
    // codegen'd string/regex ops + one hash aggregation on the canonical
    // key — no joins, embarrassingly parallel, scales to any crawl. URLs
    // are synthesized deterministically from doc_id (the documents table
    // has no url column), with every noise dimension exercised.
    "d12_url_dedup" -> ((s, d) => {
      val host = concat(lit("https://site"), col("doc_id") % 20,
        lit(".example.org"))
      val raw = concat(
        when(col("doc_id") % 2 === 0, upper(host)).otherwise(host),
        lit("/p/"), col("doc_id") % 10,
        when(col("doc_id") % 5 === 0, lit("/")).otherwise(lit("")),
        when(col("doc_id") % 3 === 0,
          concat(lit("?utm_source=feed&utm_campaign=c"), col("doc_id") % 5))
          .otherwise(lit("")),
        when(col("doc_id") % 4 === 0, concat(lit("#sec"), col("doc_id") % 7))
          .otherwise(lit("")))
      val noslash = regexp_replace(regexp_replace(
        regexp_replace(raw, "#.*$", ""), "\\?utm[^#]*$", ""), "/+$", "")
      val canon = concat(lower(regexp_extract(noslash, "^[^/]*//[^/]*", 0)),
        regexp_replace(noslash, "^[^/]*//[^/]*", ""))
      documents(s, d).select(canon.as("url"), col("doc_id"))
        .groupBy("url")
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keep_doc"))
    }),

    // -- d13: cross-document repeated-SPAN detection -----------------------
    // exact-substring dedup (the suffix-array method's distributed twin,
    // cf. "Deduplicating Training Data Makes Language Models Better"):
    // a positional 8-gram table, hash-agg to find grams appearing in >=2
    // distinct docs, then gaps-and-islands over each doc's HIT positions
    // merges adjacent duplicated grams back into maximal repeated
    // passages (span_tokens = last_pos - first_pos + n). Scale: the gram
    // table is one JIT'd generator pass (tokens-sized, 16-byte md5 keys,
    // map-side-combined df agg); the island window partitions by doc_id
    // over SURVIVING hits only — bounded by doc length, parallel across
    // docs; nothing is all-pairs. Run on the augmented corpus so true
    // repeated passages exist at every sf.
    "d13_span_dedup" -> ((s, d) => repeatedSpans(corpus(s, d, spread = false), 8)),

    // -- d15: per-source boilerplate removal (RefinedWeb/C4-style) ---------
    // nav bars / cookie banners / footers repeat VERBATIM across many
    // pages of the same site: any word 4-gram appearing in >= 3 distinct
    // docs of the SAME source is boilerplate; every token it covers is
    // stripped and survivors reassemble in order. Run on a corpus where
    // each doc carries its source's synthetic site header, so true
    // boilerplate exists at every sf (both engines build the same
    // augmentation — oracle stays exact). d13 flags repeated spans
    // anywhere; d15 REMOVES them, scoped per source, the curation form.
    "d15_boilerplate" -> ((s, d) => {
      val aug = documents(s, d).select(col("doc_id"), col("source"),
        concat(lit("site header for "), col("source"), lit(" menu "),
          col("text")).as("text"))
      stripBoilerplate(aug, 4, 3)
    }),

    // -- d16: content-defined chunk dedup (CDC) ----------------------------
    // d8 chunks at FIXED offsets, so one inserted prefix word shifts every
    // boundary and kills all chunk-hash matches; CDC anchors boundaries to
    // the CONTENT (word-pair hash coin), so an edit only perturbs its own
    // chunk — the property incremental dedup of evolving web snapshots
    // depends on. The query demonstrates it head-to-head: each doc gets a
    // prefix-inserted copy, and per doc we report how many distinct chunk
    // hashes the copy still shares under CDC vs fixed chunking (CDC ~all,
    // fixed ~none).
    "d16_cdc_chunks" -> ((s, d) => {
      val doc = documents(s, d).select(col("doc_id"), col("text"))
      // copy offset = past-end (floored at the historical 400000); the
      // same 1-row broadcast partitions the chunk tables back into
      // original vs copy, so the split stays exact at every corpus size
      val off = broadcast(doc.agg(
        greatest(max(col("doc_id")) + 1, lit(400000L)).as("aug_off")))
      val base = doc.unionByName(doc.crossJoin(off).select(
        (col("doc_id") + col("aug_off")).as("doc_id"),
        concat(lit("inserted preamble before everything "), col("text")).as("text")))
      val cdc = cdcChunks(base).select("doc_id", "h")
      val fixed = Shingles.wordChunks(base, 16)
        .select(col("doc_id"), md5(col("chunk").cast("binary")).as("h"))
      def stats(chunks: DataFrame, pref: String): DataFrame = {
        val withOff = chunks.crossJoin(off)
        val o = withOff.filter(col("doc_id") < col("aug_off"))
          .select("doc_id", "h").distinct()
        val cpy = withOff.filter(col("doc_id") >= col("aug_off"))
          .select((col("doc_id") - col("aug_off")).as("doc_id"), col("h")).distinct()
        o.join(cpy.withColumn("hit", lit(1L)), Seq("doc_id", "h"), "left")
          .groupBy("doc_id")
          .agg(count(lit(1)).as(s"${pref}_chunks"),
            sum(coalesce(col("hit"), lit(0L))).as(s"${pref}_shared"))
      }
      stats(cdc, "cdc").join(stats(fixed, "fixed"), Seq("doc_id"))
    }),

    // -- d14: fuzzy entity resolution (SymSpell deletion blocking) ---------
    // approximate string matching without a quadratic block: each name
    // emits itself + its single-character-deletion variants as block
    // keys (SymSpell's completeness argument: any two strings at edit
    // distance 1 share a key), equality self-join on the key gives
    // candidates, levenshtein verifies ONLY candidates. Resolution runs
    // over the DISTINCT-name vocabulary (min partkey as representative) —
    // the scale-correct form: block population is the vocabulary, not the
    // row count, so repeated names can't inflate any bucket. A noisy twin
    // of every name (first char -> 'x') plants true matches at every sf.
    "d14_fuzzy_match" -> ((s, d) => {
      val pt = part(s, d)
      // noisy-twin keys go past the live partkey range (floored at the
      // historical 1000000 — same collision rationale as corpus())
      val off = broadcast(pt.agg(
        greatest(max(col("p_partkey")) + 1, lit(1000000L)).as("aug_off")))
      val names = pt
        .groupBy(lower(col("p_name")).as("nm"))
        .agg(min(col("p_partkey")).as("pk"))
      val noisy = names.crossJoin(off).select(
        concat(lit("x"), expr("substring(nm, 2)")).as("nm"),
        (col("pk") + col("aug_off")).as("pk"))
      val all = names.union(noisy)
      val keys = all
        .select(col("pk"), col("nm"),
          explode(sequence(lit(0), length(col("nm")))).as("i"))
        .select(col("pk"), col("nm"),
          when(col("i") === 0, col("nm"))
            .otherwise(concat(expr("substring(nm, 1, i - 1)"),
              expr("substring(nm, i + 1)"))).as("blk"))
      val cand = keys.as("x").join(keys.as("y"),
          col("x.blk") === col("y.blk") && col("x.pk") < col("y.pk"))
        .select(col("x.pk").as("a"), col("y.pk").as("b"),
          col("x.nm").as("nm_a"), col("y.nm").as("nm_b"))
        .distinct()
      // compute the edit distance ONCE per candidate — a filter followed
      // by a separate projection would evaluate it twice (no
      // cross-operator subexpression elimination). The kernel is the
      // BANDED lev_bounded expression (O(k·len) per candidate, k=1,
      // early-exit on a saturated band) instead of Spark's full O(len²)
      // levenshtein: every kept row has dist <= 1 where min(lev, 2) ==
      // lev, so the output is bit-identical to the full-distance oracle
      // while the engine never fills a quadratic table for the
      // overwhelming majority of candidates it is about to reject
      // (TextExprSpec pins lev_bounded == min(levenshtein, k+1)).
      graft.functions.GraftFunctions.register(s)
      cand.withColumn("dist",
          call_function("lev_bounded", col("nm_a"), col("nm_b"), lit(1)))
        .filter(col("dist") <= 1)
        .select(col("a"), col("b"), col("nm_a"), col("nm_b"), col("dist"))
    }),

    // -- d19: exact SUBSTRING-level dedup (Lee et al. 2022) -----------------
    // d1/d8 dedup whole documents / word chunks; the training-data result
    // that actually moved LMs ("Deduplicating Training Data Makes Language
    // Models Better") removes duplicated CHARACTER SPANS — a 40-char
    // passage repeated across two web pages is memorization fuel even when
    // neither page is a near-dup of the other. Per document: every
    // position's 40-gram, keep positions whose gram occurs in ANOTHER
    // document, merge overlapping/adjacent hit intervals (classic
    // gaps-and-islands over a per-doc window), report merged-span count
    // and total duplicated characters — exactly the spans ExactSubstr
    // would cut.
    //
    // Scale shape: the gram relation is O(corpus chars) rows and is the
    // only big intermediate; the duplicate test is ONE hash groupBy on the
    // gram with map-side partial min/max(doc_id) (cross-doc iff min<max —
    // no count-distinct state), the hit filter is a leftsemi equi-join on
    // the gram, and the island merge windows are per-doc_id (bounded by
    // doc length, never global). The paper's suffix array is a single-node
    // structure; the shingle formulation is the shuffle-native equivalent,
    // exact for fixed L. At 100 TB the 40-byte gram keys would be packed
    // to xxhash64 longs (5x less shuffle, 2^-64 collision odds); the gate
    // keeps the raw gram so DuckDB reproduces it verbatim.
    "d19_substring_dedup" -> ((s, d) =>
      substringDedup(graft.Tables.spread(
        documents(s, d).select(col("doc_id"), col("text")), col("doc_id")), 40)),

    // -- d21: d19's AT-SCALE hash family (same precedent as d18) ------------
    // d19 shuffles the raw 40-char grams so DuckDB reproduces the keys
    // verbatim; at 100 TB you shuffle xxhash64(gram) LONGS instead — 5x
    // fewer key bytes through both the groupBy and the semi-join. The
    // span REPORT is hash-invariant unless two distinct grams collide in
    // 64 bits (~n²/2⁶⁵; for a 10¹² gram corpus, ~3%-per-corpus odds of
    // ONE span boundary shifting by <L chars — the standard accepted
    // risk), so the output gates against d19's EXACT oracle, and the
    // plan pin (PlanAuditSpec) proves no string gram survives past the
    // projection.
    "d21_substring_dedup_xx" -> ((s, d) =>
      substringDedup(graft.Tables.spread(
        documents(s, d).select(col("doc_id"), col("text")), col("doc_id")), 40,
        fastHash = true)),

    // -- d20: NEAR-dup decontamination across the train/test boundary -------
    // d9/t27 catch exact n-gram leakage; the leak that actually survives
    // real pipelines is a REWRITTEN eval document — near-dup, zero exact
    // 5-gram hits after trivial edits. The production countermeasure
    // (FineWeb/GPT-3 appendix): LSH the TRAIN corpus against the TEST
    // set and drop verified near-dups. Shape: the band table is built
    // once over train∪test, the candidate join is train-bands ⋈
    // test-bands on (bid, bh) — asymmetric, so candidates scale with
    // the TEST set's bucket occupancy, not train×train — and exact
    // Jaccard verifies only candidates (the shared verifyPairs tail).
    // Test set = doc_id % 100 == 0; planted leaks = truncated twins of
    // every test doc landing in TRAIN with id (doc_id+off)*100+1 (≡ 1
    // mod 100 — the d1-style offset alone would put twins of test docs
    // back into test, where they'd prove nothing).
    "d20_neardup_decon" -> ((s, d) => {
      val doc = graft.Tables.spread(
        documents(s, d).select(col("doc_id"), col("text")), col("doc_id"))
      val off = broadcast(doc.agg(
        greatest(max(col("doc_id")) + 1, lit(100000L)).as("aug_off")))
      val truncated = concat_ws(" ",
        slice(words, lit(1), greatest(size(words) - 3, lit(1))))
      val decon = doc.union(
        doc.filter(col("doc_id") % 100 === 0).crossJoin(off)
          .select(((col("doc_id") + col("aug_off")) * 100 + 1).as("doc_id"),
            truncated.as("text")))
      val sh = shingled(decon).localCheckpoint()
      val bd = bands(signatures(sh)).localCheckpoint()
      val cand = bd.filter(col("doc_id") % 100 =!= 0)
        .select(col("bid"), col("bh"), col("doc_id").as("a"))
        .join(bd.filter(col("doc_id") % 100 === 0)
          .select(col("bid").as("bid2"), col("bh").as("bh2"),
            col("doc_id").as("b")),
          col("bid") === col("bid2") && col("bh") === col("bh2"))
        .select(col("a"), col("b")).distinct()
      verifyPairs(setsOf(sh), cand, "jaccard", 0.5)((i, na, nb) =>
        i / (na + nb - i))
    })
  )

  /** Per-document duplicated-span report for [[queries d19]]: positions
    * whose L-gram occurs in another document, merged into maximal
    * islands. Exposed for DedupSpec's crafted-corpus cases (overlap
    * merge, adjacency merge, within-doc-only exclusion). */
  private[operators] def substringDedup(docs: DataFrame, L: Int,
      fastHash: Boolean = false): DataFrame = {
    // Spark's sequence(1, n) STEPS DOWN when n < 1 (it would emit [1,0]
    // for a short doc), so the position list must be gated, not clamped.
    // The gram relation feeds BOTH the cross-doc test and the hit
    // semi-join; materialize it once (the engine's setsOf/bands idiom) or
    // the L-per-char explode + substring runs twice end to end.
    // fastHash packs each gram to an xxhash64 long BEFORE materialization
    // — everything downstream (shuffle, agg state, join keys) carries 8
    // bytes instead of up to 4L.
    val gramKey =
      if (fastHash) xxhash64(expr(s"substring(text, pos, $L)"))
      else expr(s"substring(text, pos, $L)")
    val grams = docs
      .select(col("doc_id"), col("text"),
        explode(when(length(col("text")) >= L,
            sequence(lit(1), length(col("text")) - (L - 1)))
          .otherwise(array().cast("array<int>"))).as("pos"))
      .select(col("doc_id"), col("pos"), gramKey.as("gram"))
      .localCheckpoint()
    val crossDoc = grams.groupBy("gram")
      .agg(min(col("doc_id")).as("d0"), max(col("doc_id")).as("d1"))
      .filter(col("d0") =!= col("d1"))
      .select("gram")
    val hits = grams.join(crossDoc, Seq("gram"), "leftsemi")
      .select("doc_id", "pos")
    val wPrev = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wRun = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val islands = hits
      .withColumn("pmax", max(col("pos") + (L - 1)).over(wPrev))
      .withColumn("new_isl",
        when(col("pmax").isNull || col("pos") > col("pmax") + 1, 1L)
          .otherwise(0L))
      .withColumn("isl", sum(col("new_isl")).over(wRun))
    islands.groupBy(col("doc_id"), col("isl"))
      .agg(min(col("pos")).as("lo"),
        max(col("pos") + (L - 1)).as("hi"),
        count(lit(1)).as("npos"))
      .groupBy("doc_id")
      .agg(sum(col("npos")).as("n_dup_pos"),
        count(lit(1)).as("n_spans"),
        sum(col("hi") - col("lo") + 1).as("dup_chars"))
  }

  /** Maximal cross-document repeated passages: (doc_id, span_start,
    * span_tokens), one row per maximal run of n-gram start positions
    * whose gram occurs in >= 2 distinct docs (d13's engine). */
  def repeatedSpans(docs: DataFrame, n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the gram hash is INTERNAL (never output), so the engines need not
    // agree on it — only on the duplicated-gram SET, which any
    // effectively-collision-free hash preserves. xxhash64 longs (8 B)
    // halve-again the shuffle vs md5 hex strings (48 B); at 10^11
    // distinct grams the 64-bit birthday bound yields a handful of
    // spurious dup grams — noise for a dedup FLAGGER. The DuckDB twin
    // groups on the raw gram text instead.
    // materialized once (the substringDedup idiom): the gram relation
    // feeds BOTH the duplicate-gram aggregate and the hit semi-join, and
    // without the checkpoint the generator pass runs end to end twice
    val grams = Shingles.wordNGramsPos(docs, n)
      .select(col("doc_id"), col("pos"), xxhash64(col("sh")).as("h"))
      .localCheckpoint()
    // "occurs in >= 2 distinct docs" as min(doc_id) != max(doc_id): the
    // d19 form — plain min/max partial-aggregates map-side (one pass, 16 B
    // of agg state per gram), where countDistinct planned an Expand +
    // two-phase distinct aggregate shipping every (h, doc_id) pair
    // (guide §2.3 "aggregate before you shuffle"). Same predicate, so the
    // duplicated-gram SET — and everything downstream — is unchanged.
    val dup = grams.groupBy("h")
      .agg(min(col("doc_id")).as("d0"), max(col("doc_id")).as("d1"))
      .filter(col("d0") =!= col("d1")).select("h")
    val hits = grams.join(dup, Seq("h"), "leftsemi").select("doc_id", "pos")
    val w = Window.partitionBy("doc_id").orderBy("pos")
    hits
      .withColumn("prev", lag(col("pos"), 1).over(w))
      .withColumn("brk",
        when(col("prev").isNull || col("pos") - col("prev") > 1, 1L).otherwise(0L))
      .withColumn("isl", sum(col("brk")).over(w))
      .groupBy(col("doc_id"), col("isl"))
      .agg(min(col("pos")).as("span_start"), max(col("pos")).as("mx"))
      .select(col("doc_id"), col("span_start"),
        (col("mx") - col("span_start") + n).as("span_tokens"))
  }

  /** Content-defined chunking (d16's engine): word-level Rabin-style
    * boundaries — a new chunk starts at word i when the first hex char of
    * md5(w_{i-1} || ' ' || w_i) is '0' (P = 1/16, ~16-word expected
    * chunks). Returns (doc_id, chunk_id, chunk, h). Boundaries are
    * content-anchored: a prefix insertion shifts every fixed-offset chunk
    * (d8) but leaves every CDC boundary past the edit untouched.
    * Scale: the lag/cumsum windows partition per doc (bounded by doc
    * length, parallel across docs); the chunk table is ~corpus/16 rows
    * with 32-char hash keys — nothing global, nothing all-pairs. */
  def cdcChunks(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("doc_id").orderBy("i")
    val tok = docs.select(col("doc_id"),
      posexplode(split(col("text"), " ")).as(Seq("i", "w")))
    tok.withColumn("pw", lag(col("w"), 1).over(w))
      .withColumn("b",
        when(col("pw").isNotNull &&
          substring(md5(concat(col("pw"), lit(" "), col("w"))), 1, 1) === "0",
          1L).otherwise(0L))
      .withColumn("chunk_id", sum(col("b")).over(w))
      .groupBy("doc_id", "chunk_id")
      .agg(expr("array_join(transform(sort_array(collect_list(struct(i, w)))," +
        " x -> x.w), ' ')").as("chunk"))
      .withColumn("h", md5(col("chunk").cast("binary")))
      .select("doc_id", "chunk_id", "chunk", "h")
  }

  /** Per-source boilerplate stripping (d15's engine): any word n-gram
    * occurring in >= minDf distinct docs of the same source is
    * boilerplate; tokens covered by one are dropped, the rest
    * reassemble in document order. Returns (doc_id, n_kept, clean_text).
    * Docs whose every token is boilerplate disappear entirely.
    *
    * Scale: grams come from one JIT'd generator pass that CARRIES the
    * source key ([[Shingles.wordNGramsPosKeyed]]) — no token-scale
    * join back to document metadata; the boilerplate set is a
    * map-side-combinable (source, gram) aggregate; covered positions
    * are hits-sized (boilerplate occurrences only, not the corpus);
    * the reassembly groupBy is bounded by document length. Nothing is
    * all-pairs and no window spans more than one document. */
  def stripBoilerplate(docs: DataFrame, n: Int, minDf: Int): DataFrame = {
    // materialized once: feeds the boilerplate aggregate AND the hit join
    val grams = Shingles.wordNGramsPosKeyed(docs, n).localCheckpoint()
    val bp = grams.groupBy("source", "sh")
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= minDf)
      .select("source", "sh")
    val hits = grams.join(bp, Seq("source", "sh")).select("doc_id", "pos")
    val covered = hits
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + (n - 1))).as("i"))
      .distinct()
    val tok = docs.select(col("doc_id"),
      posexplode(split(col("text"), " ")).as(Seq("i", "w")))
    tok.join(covered, Seq("doc_id", "i"), "left_anti")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        expr("array_join(transform(sort_array(collect_list(struct(i, w)))," +
          " x -> x.w), ' ')").as("clean_text"))
  }

  /** Banded hamming pairing over a `(doc_id, sig)` 60-bit signature
    * table: `(doc_a < doc_b, hamming)` for every pair with
    * popcount(xor) <= 3, distinct, found via 4x15-bit band equality
    * ([[hammingPairs]]; pigeonhole-COMPLETE for that radius —
    * spec-proven equal to brute force on random signatures). The
    * signature subtree is evaluated once (for m6/m10/m11 it is the full
    * media decode pipeline), and only pairs within the radius reach the
    * distinct. A degenerate corpus (many identical dHash/audio
    * signatures) funnels most docs into one band bucket;
    * [[Skew.bucketPairs]] splits such a bucket into block-pair groups of
    * at most 2·4096 members. `doc_id` must be unique in `sig`. */
  def simhashPairs(sig: DataFrame): DataFrame = simhashPairs(sig, Skew.BucketCap)

  private[operators] def simhashPairs(sig: DataFrame, cap: Int): DataFrame =
    hammingPairs(sig.select(col("doc_id").as("id"), col("sig").as("code")), 15, cap)
      .toDF("doc_a", "doc_b", "hamming")

  /** Multi-index hamming pairing over packed `(id, code)` longs: the
    * distinct `(a < b, hamming)` pairs with popcount(a xor b) <= 3. The
    * low `4·width` bits of a code are cut into 4 bands of `width` bits;
    * by pigeonhole, 3 differing bits leave at least one band identical
    * when every differing bit lies in the banded bits (d11's 60-bit
    * signatures at width 15, s15's 64-bit sign codes at width 16), so
    * the (band, value) buckets of [[Skew.bucketPairs]] hold every pair
    * within the radius, and its pair test keeps exactly those. */
  private[operators] def hammingPairs(codes: DataFrame, width: Int,
                                      cap: Int = Skew.BucketCap): DataFrame =
    Skew.bucketPairs(hammingBands(codes, width), col("e"), col("id"), col("code"), cap)(
        (x, y) => java.lang.Long.bitCount(x ^ y) <= 3)
      .select(col("a"), col("b"),
        bit_count(col("pa").bitwiseXOR(col("pb"))).cast("long").as("hamming"))

  /** One `(id, code, e)` row per band of each code: `e = (band, v)`, v the
    * band's `width` bits. */
  private[operators] def hammingBands(codes: DataFrame, width: Int): DataFrame =
    codes.select(col("id"), col("code"),
      explode(array((0 until 4).map(b => struct(lit(b).as("band"),
        shiftrightunsigned(col("code"), width * b).bitwiseAND(lit((1L << width) - 1))
          .as("v"))): _*)).as("e"))

  // ----------------------------------------------------------- oracle SQL

  private val sqlCorpus =
    """corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + (SELECT GREATEST(MAX(doc_id) + 1, 100000) FROM documents)
      |    AS doc_id,
      |         array_to_string(ws[1:greatest(len(ws)-3, 1)], ' ') AS text
      |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
      |)""".stripMargin

  /** shingle/signature/band CTE chain over an arbitrary relation with a
    * name prefix — ONE definition of the oracle-side LSH arithmetic
    * (the SQL twin of [[signatures]]/[[bands]]: two digests per shingle,
    * eight 8-hex-char windows, four 2-row bands), parameterized so
    * oracles that band TWO corpora (es16's index + stream) compose it
    * twice without hand-copied drift. */
  private[operators] def sqlBandCtesSeq(rel: String, p: String): Seq[String] = {
    val shingles =
      s"""${p}sh AS (
         |  SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS sh
         |  FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws)-2)) AS i
         |        FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM $rel))
         |)""".stripMargin
    val mins = (0 until NumHashes)
      .map(j => s"min(substring(md5(sh) || md5(sh || '|'), ${8 * j + 1}, 8)) AS h$j")
      .mkString(", ")
    val sig = s"${p}sig AS (SELECT doc_id, $mins FROM ${p}sh GROUP BY doc_id)"
    val rows = (0 until NumBands)
      .map(b => s"SELECT doc_id, $b AS bid, md5(h${2 * b} || h${2 * b + 1}) AS bh FROM ${p}sig")
      .mkString("\n  UNION ALL ")
    val band = s"${p}band AS (\n  $rows\n)"
    Seq(shingles, sig, band)
  }

  private val bandPieces = sqlBandCtesSeq("corpus", "")
  private val sqlShingles = bandPieces(0)
  private val sqlSig = bandPieces(1)
  private val sqlBand = bandPieces(2)

  private val sqlPairs =
    """pairs AS (
      |  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
      |  FROM band l JOIN band r
      |    ON l.bid = r.bid AND l.bh = r.bh AND l.doc_id < r.doc_id
      |)""".stripMargin

  private def withAll(extra: String*) =
    "WITH " + (Seq(sqlCorpus, sqlShingles, sqlSig, sqlBand, sqlPairs) ++ extra).mkString(",\n")

  /** Oracle twin of [[verifyPairs]]: the shared sets/sizes/inter CTEs
    * (over the string shingles — DuckDB needs no hashed key) plus the
    * scored final SELECT, parameterized exactly like the Spark helper. */
  private val sqlVerifyCtes = Seq(
    "sets AS (SELECT DISTINCT doc_id, sh FROM sh)",
    "sizes AS (SELECT doc_id, COUNT(*) AS nsz FROM sets GROUP BY doc_id)",
    """inter AS (
      |  SELECT p.a, p.b, COUNT(*) AS i
      |  FROM pairs p
      |  JOIN sets sa ON sa.doc_id = p.a
      |  JOIN sets sb ON sb.doc_id = p.b AND sa.sh = sb.sh
      |  GROUP BY p.a, p.b)""".stripMargin)

  private def sqlVerifySelect(scoreExpr: String, scoreName: String,
                              minScore: String) =
    s"""
       |SELECT i.a, i.b,
       |  round($scoreExpr, 4) AS $scoreName
       |FROM inter i
       |JOIN sizes za ON za.doc_id = i.a
       |JOIN sizes zb ON zb.doc_id = i.b
       |WHERE round($scoreExpr, 4) >= $minScore""".stripMargin

  def oracles: Map[String, String] = Map(
    "d1_exact_dedup" ->
      """SELECT md5(text) AS h, min(doc_id) AS keeper, COUNT(*) AS n
        |FROM documents GROUP BY md5(text)""".stripMargin,
    "d2_minhash_sig" ->
      (s"WITH $sqlCorpus,\n$sqlShingles,\n$sqlSig\nSELECT * FROM sig"),
    "d3_lsh_pairs" ->
      (withAll() + "\nSELECT a, b FROM pairs"),
    "d4_jaccard_verify" ->
      (withAll(sqlVerifyCtes: _*) +
        sqlVerifySelect("CAST(i.i AS DOUBLE) / (za.nsz + zb.nsz - i.i)",
          "jaccard", "0.5")),
    // the xxhash64 family lands the identical verified set at the 0.8
    // high-confidence threshold (DedupSpec), so it shares d4's oracle
    // shape — md5 banding in SQL, threshold 0.8
    "d18_minhash_xx_verify" ->
      (withAll(sqlVerifyCtes: _*) +
        sqlVerifySelect("CAST(i.i AS DOUBLE) / (za.nsz + zb.nsz - i.i)",
          "jaccard", "0.8")),
    "d10_containment" ->
      (withAll(sqlVerifyCtes: _*) +
        sqlVerifySelect("CAST(i.i AS DOUBLE) / least(za.nsz, zb.nsz)",
          "containment", "0.9")),
    "d7_dedup_clusters" ->
      ("WITH RECURSIVE " +
        (Seq(sqlCorpus, sqlShingles, sqlSig, sqlBand, sqlPairs,
          """edges AS (SELECT a AS x, b AS y FROM pairs
            |          UNION SELECT b, a FROM pairs)""".stripMargin,
          """reach AS (
            |  SELECT x, y FROM edges
            |  UNION
            |  SELECT r.x, e.y FROM reach r JOIN edges e ON r.y = e.x
            |)""".stripMargin).mkString(",\n")) +
        """
          |SELECT x AS doc_id, least(x, MIN(y)) AS cluster,
          |  CASE WHEN x = least(x, MIN(y)) THEN 1 ELSE 0 END AS keep
          |FROM reach GROUP BY x""".stripMargin),
    "d17_cluster_split" ->
      ("WITH RECURSIVE " +
        (Seq(sqlCorpus, sqlShingles, sqlSig, sqlBand, sqlPairs,
          """edges AS (SELECT a AS x, b AS y FROM pairs
            |          UNION SELECT b, a FROM pairs)""".stripMargin,
          """reach AS (
            |  SELECT x, y FROM edges
            |  UNION
            |  SELECT r.x, e.y FROM reach r JOIN edges e ON r.y = e.x
            |)""".stripMargin,
          "clu AS (SELECT x AS doc_id, least(x, MIN(y)) AS cluster FROM reach GROUP BY x)",
          """ac AS (SELECT c.doc_id, coalesce(u.cluster, c.doc_id) AS cluster
            |       FROM corpus c LEFT JOIN clu u ON u.doc_id = c.doc_id)""".stripMargin,
          "hb AS (SELECT doc_id, cluster, md5(CAST(cluster AS VARCHAR)) AS h FROM ac)")
          .mkString(",\n")) +
        """
          |SELECT doc_id, cluster,
          |  CASE WHEN bucket < 13 THEN 'test' WHEN bucket < 26 THEN 'val'
          |       ELSE 'train' END AS split
          |FROM (SELECT doc_id, cluster,
          |        (ascii(substring(h,1,1)) -
          |          CASE WHEN ascii(substring(h,1,1)) >= 97 THEN 87 ELSE 48 END) * 16 +
          |        (ascii(substring(h,2,1)) -
          |          CASE WHEN ascii(substring(h,2,1)) >= 97 THEN 87 ELSE 48 END) AS bucket
          |      FROM hb)""".stripMargin),
    "d8_chunk_dedup" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |ch AS (SELECT doc_id, (i - 1) // 10 AS pos, array_to_string(w[i:i+9], ' ') AS chunk
        |       FROM (SELECT doc_id, w, unnest(generate_series(1, len(w), 10)) AS i FROM w)),
        |df AS (SELECT chunk, COUNT(DISTINCT doc_id) AS df FROM ch GROUP BY chunk)
        |SELECT doc_id, COUNT(*) AS n_chunks,
        |  CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_stripped,
        |  coalesce(string_agg(CASE WHEN df < 2 THEN chunk END, ' ' ORDER BY pos), '') AS clean
        |FROM ch JOIN df USING (chunk)
        |GROUP BY doc_id""".stripMargin,
    "d6_ngram_jaccard" ->
      (s"WITH $sqlCorpus,\n$sqlShingles,\n" +
        """sets AS (SELECT DISTINCT doc_id, sh FROM sh),
          |rare AS (SELECT sh FROM (SELECT sh, COUNT(*) AS df FROM sets GROUP BY sh)
          |         WHERE df BETWEEN 2 AND 8),
          |cand AS (SELECT s.doc_id, s.sh FROM sets s JOIN rare r ON s.sh = r.sh),
          |npairs AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
          |           FROM cand x JOIN cand y ON x.sh = y.sh AND x.doc_id < y.doc_id),
          |sizes AS (SELECT doc_id, COUNT(*) AS nsz FROM sets GROUP BY doc_id),
          |inter AS (
          |  SELECT p.a, p.b, COUNT(*) AS i
          |  FROM npairs p
          |  JOIN sets sa ON sa.doc_id = p.a
          |  JOIN sets sb ON sb.doc_id = p.b AND sa.sh = sb.sh
          |  GROUP BY p.a, p.b)
          |SELECT i.a, i.b,
          |  round(CAST(i.i AS DOUBLE) / (za.nsz + zb.nsz - i.i), 4) AS jaccard
          |FROM inter i
          |JOIN sizes za ON za.doc_id = i.a
          |JOIN sizes zb ON zb.doc_id = i.b
          |WHERE round(CAST(i.i AS DOUBLE) / (za.nsz + zb.nsz - i.i), 4) >= 0.5""".stripMargin),
    "d9_bloom_decontaminate" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |test AS (SELECT DISTINCT array_to_string(w[i:i+4], ' ') AS sh
        |         FROM (SELECT w, unnest(generate_series(1, len(w) - 4)) AS i
        |               FROM w WHERE doc_id % 100 = 0)),
        |bloom AS (SELECT DISTINCT p FROM (
        |  SELECT substr(md5(sh), 1, 4) AS p FROM test
        |  UNION ALL SELECT substr(md5(sh), 5, 4) FROM test
        |  UNION ALL SELECT substr(md5(sh), 9, 4) FROM test)),
        |train AS (SELECT doc_id, w FROM w WHERE doc_id % 100 <> 0
        |          UNION ALL
        |          SELECT doc_id + (SELECT GREATEST(MAX(doc_id) + 1, 300000)
        |                           FROM documents),
        |                 w[1:greatest(len(w) - 2, 1)]
        |          FROM w WHERE doc_id % 100 = 0),
        |tsh AS (SELECT doc_id, array_to_string(w[i:i+4], ' ') AS sh
        |        FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 4)) AS i
        |              FROM train)),
        |pos AS (SELECT doc_id, sh, substr(md5(sh), 1, 4) AS p FROM tsh
        |        UNION ALL SELECT doc_id, sh, substr(md5(sh), 5, 4) FROM tsh
        |        UNION ALL SELECT doc_id, sh, substr(md5(sh), 9, 4) FROM tsh),
        |gr AS (SELECT doc_id, sh,
        |         MIN(CASE WHEN b.p IS NULL THEN 0 ELSE 1 END) AS all_set
        |       FROM pos LEFT JOIN bloom b ON pos.p = b.p
        |       GROUP BY doc_id, sh),
        |agg AS (SELECT doc_id, COUNT(*) AS n_grams,
        |          CAST(SUM(all_set) AS BIGINT) AS n_flagged
        |        FROM gr GROUP BY doc_id)
        |SELECT doc_id, n_grams, n_flagged,
        |  round(CAST(n_flagged AS DOUBLE) / n_grams, 4) AS flag_frac
        |FROM agg WHERE n_flagged >= 1""".stripMargin,
    "d5_simhash" -> {
      val sums = (0 until 16).map(j =>
        s"SUM(CASE WHEN ascii(substr(md5(w), ${j + 1}, 1)) % 2 = 1 THEN 1 ELSE -1 END) AS s$j")
        .mkString(", ")
      val bits = (0 until 16).map(j =>
        s"CASE WHEN s$j > 0 THEN ${1 << j} ELSE 0 END").mkString(" + ")
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
         |agg AS (SELECT doc_id, $sums FROM tok GROUP BY doc_id)
         |SELECT doc_id, $bits AS simhash FROM agg""".stripMargin
    },
    "d11_simhash_pairs" ->
      s"""WITH $sqlCorpus,
         |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM corpus),
         |m AS (SELECT doc_id, md5(w) || md5(w || 'x') AS m FROM tok),
         |bits AS (SELECT doc_id, j,
         |    SUM(CASE WHEN ascii(substring(m, j+1, 1)) % 2 = 1 THEN 1 ELSE -1 END) AS sj
         |  FROM m, (SELECT unnest(generate_series(0, 59)) AS j) js
         |  GROUP BY doc_id, j),
         |sig AS (SELECT doc_id,
         |    CAST(SUM(CASE WHEN sj > 0 THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT) AS sig
         |  FROM bits GROUP BY doc_id),
         |bands AS (SELECT doc_id, sig, b, (sig >> (15*b)) & 32767 AS bv
         |          FROM sig, (SELECT unnest(generate_series(0, 3)) AS b) bs),
         |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
         |           x.sig AS sa, y.sig AS sb
         |         FROM bands x JOIN bands y
         |           ON x.b = y.b AND x.bv = y.bv AND x.doc_id < y.doc_id)
         |SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
         |FROM cand WHERE bit_count(xor(sa, sb)) <= 3""".stripMargin,
    "d12_url_dedup" ->
      """WITH u AS (SELECT doc_id,
        |    (CASE WHEN doc_id % 2 = 0
        |       THEN upper('https://site' || CAST(doc_id % 20 AS VARCHAR) || '.example.org')
        |       ELSE 'https://site' || CAST(doc_id % 20 AS VARCHAR) || '.example.org' END)
        |    || '/p/' || CAST(doc_id % 10 AS VARCHAR)
        |    || (CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END)
        |    || (CASE WHEN doc_id % 3 = 0
        |          THEN '?utm_source=feed&utm_campaign=c' || CAST(doc_id % 5 AS VARCHAR)
        |          ELSE '' END)
        |    || (CASE WHEN doc_id % 4 = 0
        |          THEN '#sec' || CAST(doc_id % 7 AS VARCHAR) ELSE '' END) AS raw
        |  FROM documents),
        |n AS (SELECT doc_id,
        |    regexp_replace(regexp_replace(regexp_replace(raw,
        |      '#.*$', ''), '\?utm[^#]*$', ''), '/+$', '') AS noslash
        |  FROM u),
        |c AS (SELECT doc_id,
        |    lower(regexp_extract(noslash, '^[^/]*//[^/]*')) ||
        |      regexp_replace(noslash, '^[^/]*//[^/]*', '') AS url
        |  FROM n)
        |SELECT url, COUNT(*) AS n_docs, MIN(doc_id) AS keep_doc
        |FROM c GROUP BY url""".stripMargin,
    "d13_span_dedup" ->
      (s"WITH $sqlCorpus,\n" +
        """w AS (SELECT doc_id, string_split(text, ' ') AS w FROM corpus),
          |g AS (SELECT doc_id, i - 1 AS pos,
          |        array_to_string(w[i:i+7], ' ') AS h
          |      FROM (SELECT doc_id, w,
          |              unnest(generate_series(1, len(w) - 7)) AS i FROM w)),
          |dup AS (SELECT h FROM (SELECT h, COUNT(DISTINCT doc_id) AS df
          |                       FROM g GROUP BY h) WHERE df >= 2),
          |hits AS (SELECT doc_id, pos FROM g JOIN dup USING (h)),
          |isl AS (SELECT doc_id, pos,
          |         SUM(CASE WHEN prev IS NULL OR pos - prev > 1 THEN 1 ELSE 0 END)
          |           OVER (PARTITION BY doc_id ORDER BY pos
          |                 ROWS UNBOUNDED PRECEDING) AS isl
          |        FROM (SELECT doc_id, pos,
          |                lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
          |              FROM hits))
          |SELECT doc_id, MIN(pos) AS span_start,
          |  MAX(pos) - MIN(pos) + 8 AS span_tokens
          |FROM isl GROUP BY doc_id, isl""".stripMargin),
    "d15_boilerplate" ->
      """WITH aug AS (
        |  SELECT doc_id, source,
        |         'site header for ' || source || ' menu ' || text AS text
        |  FROM documents),
        |tok AS (
        |  SELECT doc_id, source, i - 1 AS i, ws[i] AS w,
        |         CASE WHEN i <= len(ws) - 3
        |              THEN array_to_string(ws[i:i+3], ' ') END AS g
        |  FROM (SELECT doc_id, source, string_split(text, ' ') AS ws,
        |               unnest(generate_series(1, len(string_split(text, ' ')))) AS i
        |        FROM aug)),
        |bp AS (
        |  SELECT source, g FROM tok WHERE g IS NOT NULL
        |  GROUP BY source, g HAVING COUNT(DISTINCT doc_id) >= 3),
        |cov AS (
        |  SELECT DISTINCT t.doc_id, t.i + d.k AS ci
        |  FROM tok t
        |  JOIN bp b ON t.source = b.source AND t.g = b.g
        |  CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS k) d),
        |kept AS (
        |  SELECT t.doc_id, t.i, t.w
        |  FROM tok t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.i = c.ci
        |  WHERE c.doc_id IS NULL)
        |SELECT doc_id, COUNT(*) AS n_kept,
        |       string_agg(w, ' ' ORDER BY i) AS clean_text
        |FROM kept GROUP BY doc_id""".stripMargin,
    "d16_cdc_chunks" ->
      """WITH off AS (
        |  SELECT GREATEST(MAX(doc_id) + 1, 400000) AS o FROM documents),
        |base AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + (SELECT o FROM off) AS doc_id,
        |         'inserted preamble before everything ' || text AS text
        |  FROM documents),
        |tok AS (
        |  SELECT doc_id, i - 1 AS i, ws[i] AS w
        |  FROM (SELECT doc_id, string_split(text, ' ') AS ws,
        |               unnest(generate_series(1, len(string_split(text, ' ')))) AS i
        |        FROM base)),
        |brk AS (
        |  SELECT doc_id, i, w,
        |    CASE WHEN lag(w) OVER (PARTITION BY doc_id ORDER BY i) IS NOT NULL
        |          AND substring(md5(lag(w) OVER (PARTITION BY doc_id ORDER BY i)
        |                            || ' ' || w), 1, 1) = '0'
        |         THEN 1 ELSE 0 END AS b
        |  FROM tok),
        |cid AS (
        |  SELECT doc_id, i, w,
        |         SUM(b) OVER (PARTITION BY doc_id ORDER BY i) AS chunk_id
        |  FROM brk),
        |cdc AS (
        |  SELECT doc_id, md5(string_agg(w, ' ' ORDER BY i)) AS h
        |  FROM cid GROUP BY doc_id, chunk_id),
        |fixed AS (
        |  SELECT doc_id, md5(array_to_string(ws[s:least(s + 15, len(ws))], ' ')) AS h
        |  FROM (SELECT doc_id, string_split(text, ' ') AS ws,
        |               unnest(generate_series(1, len(string_split(text, ' ')), 16)) AS s
        |        FROM base)),
        |cs AS (
        |  SELECT o.doc_id, COUNT(*) AS cdc_chunks,
        |         CAST(SUM(CASE WHEN c.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS cdc_shared
        |  FROM (SELECT DISTINCT doc_id, h FROM cdc WHERE doc_id < (SELECT o FROM off)) o
        |  LEFT JOIN (SELECT DISTINCT doc_id - (SELECT o FROM off) AS doc_id, h
        |             FROM cdc WHERE doc_id >= (SELECT o FROM off)) c
        |    ON o.doc_id = c.doc_id AND o.h = c.h
        |  GROUP BY o.doc_id),
        |fs AS (
        |  SELECT o.doc_id, COUNT(*) AS fixed_chunks,
        |         CAST(SUM(CASE WHEN c.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS fixed_shared
        |  FROM (SELECT DISTINCT doc_id, h FROM fixed WHERE doc_id < (SELECT o FROM off)) o
        |  LEFT JOIN (SELECT DISTINCT doc_id - (SELECT o FROM off) AS doc_id, h
        |             FROM fixed WHERE doc_id >= (SELECT o FROM off)) c
        |    ON o.doc_id = c.doc_id AND o.h = c.h
        |  GROUP BY o.doc_id)
        |SELECT cs.doc_id, cdc_chunks, cdc_shared, fixed_chunks, fixed_shared
        |FROM cs JOIN fs ON cs.doc_id = fs.doc_id""".stripMargin,
    "d14_fuzzy_match" ->
      """WITH names AS (SELECT lower(p_name) AS nm, MIN(p_partkey) AS pk
        |               FROM part GROUP BY 1),
        |al AS (SELECT nm, pk FROM names
        |       UNION ALL
        |       SELECT 'x' || substr(nm, 2) AS nm,
       |              pk + (SELECT GREATEST(MAX(p_partkey) + 1, 1000000) FROM part) AS pk
       |       FROM names),
        |k AS (SELECT pk, nm,
        |        CASE WHEN i = 0 THEN nm
        |             ELSE substr(nm, 1, i - 1) || substr(nm, i + 1) END AS blk
        |      FROM (SELECT pk, nm, unnest(generate_series(0, len(nm))) AS i
        |            FROM al)),
        |cand AS (SELECT DISTINCT x.pk AS a, y.pk AS b,
        |           x.nm AS nm_a, y.nm AS nm_b
        |         FROM k x JOIN k y ON x.blk = y.blk AND x.pk < y.pk)
        |SELECT a, b, nm_a, nm_b,
        |  CAST(levenshtein(nm_a, nm_b) AS BIGINT) AS dist
        |FROM cand WHERE levenshtein(nm_a, nm_b) <= 1""".stripMargin,
    // d21 shares d19's oracle verbatim: the span report is invariant to
    // the gram-key representation (raw string vs xxhash64 long)
    "d21_substring_dedup_xx" ->
      """WITH grams AS (
        |  SELECT doc_id, i AS pos, substr(text, i, 40) AS gram
        |  FROM (SELECT doc_id, text,
        |          unnest(generate_series(1, length(text) - 39)) AS i
        |        FROM documents)),
        |dup AS (SELECT gram FROM grams GROUP BY gram
        |        HAVING MIN(doc_id) <> MAX(doc_id)),
        |hits AS (SELECT g.doc_id, g.pos FROM grams g JOIN dup USING (gram)),
        |isl AS (
        |  SELECT doc_id, pos,
        |    CASE WHEN MAX(pos + 39) OVER w IS NULL
        |           OR pos > MAX(pos + 39) OVER w + 1 THEN 1 ELSE 0 END AS new_isl
        |  FROM hits
        |  WINDOW w AS (PARTITION BY doc_id ORDER BY pos
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |isl2 AS (SELECT doc_id, pos,
        |           SUM(new_isl) OVER (PARTITION BY doc_id ORDER BY pos) AS isl
        |         FROM isl),
        |spans AS (SELECT doc_id, isl, MIN(pos) AS lo, MAX(pos) + 39 AS hi,
        |            COUNT(*) AS npos
        |          FROM isl2 GROUP BY doc_id, isl)
        |SELECT doc_id, CAST(SUM(npos) AS BIGINT) AS n_dup_pos,
        |       COUNT(*) AS n_spans, CAST(SUM(hi - lo + 1) AS BIGINT) AS dup_chars
        |FROM spans GROUP BY doc_id""".stripMargin,
    "d19_substring_dedup" ->
      """WITH grams AS (
        |  SELECT doc_id, i AS pos, substr(text, i, 40) AS gram
        |  FROM (SELECT doc_id, text,
        |          unnest(generate_series(1, length(text) - 39)) AS i
        |        FROM documents)),
        |dup AS (SELECT gram FROM grams GROUP BY gram
        |        HAVING MIN(doc_id) <> MAX(doc_id)),
        |hits AS (SELECT g.doc_id, g.pos FROM grams g JOIN dup USING (gram)),
        |isl AS (
        |  SELECT doc_id, pos,
        |    CASE WHEN MAX(pos + 39) OVER w IS NULL
        |           OR pos > MAX(pos + 39) OVER w + 1 THEN 1 ELSE 0 END AS new_isl
        |  FROM hits
        |  WINDOW w AS (PARTITION BY doc_id ORDER BY pos
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |isl2 AS (SELECT doc_id, pos,
        |           SUM(new_isl) OVER (PARTITION BY doc_id ORDER BY pos) AS isl
        |         FROM isl),
        |spans AS (SELECT doc_id, isl, MIN(pos) AS lo, MAX(pos) + 39 AS hi,
        |            COUNT(*) AS npos
        |          FROM isl2 GROUP BY doc_id, isl)
        |SELECT doc_id, CAST(SUM(npos) AS BIGINT) AS n_dup_pos,
        |       COUNT(*) AS n_spans, CAST(SUM(hi - lo + 1) AS BIGINT) AS dup_chars
        |FROM spans GROUP BY doc_id""".stripMargin,
    "d20_neardup_decon" -> {
      // custom corpus (twins of TEST docs only, ids ≡ 1 mod 100), then
      // the standard band CTEs rebound to it + the asymmetric pair join
      val dcorpus =
        """corpus AS (
          |  SELECT doc_id, text FROM documents
          |  UNION ALL
          |  SELECT (doc_id + (SELECT GREATEST(MAX(doc_id) + 1, 100000)
          |                    FROM documents)) * 100 + 1 AS doc_id,
          |         array_to_string(ws[1:greatest(len(ws)-3, 1)], ' ') AS text
          |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
          |        WHERE doc_id % 100 = 0)
          |)""".stripMargin
      val deconPairs =
        """pairs AS (
          |  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
          |  FROM band l JOIN band r
          |    ON l.bid = r.bid AND l.bh = r.bh
          |  WHERE l.doc_id % 100 <> 0 AND r.doc_id % 100 = 0
          |)""".stripMargin
      "WITH " + ((Seq(dcorpus) ++ sqlBandCtesSeq("corpus", "") ++
        Seq(deconPairs) ++ sqlVerifyCtes).mkString(",\n")) +
        sqlVerifySelect("CAST(i.i AS DOUBLE) / (za.nsz + zb.nsz - i.i)",
          "jaccard", "0.5")
    }
  )
}
