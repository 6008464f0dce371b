package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables._
import graft.core.{KmerCodec, KmerIter}

/** Genomics operator layer: the reference's k-mer counter pipeline and its
  * row-level transforms, re-expressed Spark-first and made oracle-checkable.
  *
  * The driver's correctness gate runs DuckDB over the same testdata parquet,
  * so these operators consume deterministic DNA *derived* from testdata:
  * `dna32(doc_id)` maps each document to a 32-base sequence via
  * `translate(md5(doc_id), hex, ACGT)` — identical in Spark and DuckDB.
  * The Spark side then runs the REAL engine path (2-bit packing, rolling
  * canonical extraction via [[graft.core.KmerIter]], hash aggregation on
  * the packed key, decode after the agg), while the oracle recomputes the
  * same semantics with substr/least/reverse/translate SQL.
  *
  * Scale design: aggregation keys are word keys — a packed Long (k<=31) or
  * a `wordsFor(k)`-long array (k>31), the assembler's own key — never
  * strings: grouping shuffles 8-24 bytes/kmer instead of a k-byte string,
  * and decode runs only on the post-agg (much smaller) side.
  * This mirrors `ReflexivDataFrameCounter.java:198-209` (count then decode).
  */
object Genomics extends QueryFamily {
  private val HEX = "0123456789abcdef"
  private val ACGT = "ACGTACGTACGTACGT"

  /** 32-base deterministic DNA for an id column (codegen'd, no UDF). */
  def dna32(id: Column): Column =
    translate(md5(id.cast("string").cast("binary")), HEX, ACGT)

  /** 64-base variant (two chained md5 blocks) for the k>31 path. */
  def dna64(id: Column): Column =
    concat(dna32(id),
      translate(md5(concat(id.cast("string"), lit("x")).cast("binary")), HEX, ACGT))

  /** SQL fragments for the oracle side (DuckDB). */
  private val sqlDna32 =
    "translate(md5(CAST(doc_id AS VARCHAR)), '0123456789abcdef', 'ACGTACGTACGTACGT')"
  private val sqlDna64 =
    sqlDna32 + " || translate(md5(CAST(doc_id AS VARCHAR) || 'x'), '0123456789abcdef', 'ACGTACGTACGTACGT')"
  private def sqlRc(e: String) = s"reverse(translate($e, 'ACGT', 'TGCA'))"
  /** CTE producing (kmer, c) canonical k-mer counts over dna32 docs. */
  private def sqlKmerCounts(k: Int): String =
    s"""WITH seq AS (SELECT $sqlDna32 AS s FROM documents),
       |pos AS (SELECT s, unnest(generate_series(1, length(s) - $k + 1)) AS i FROM seq),
       |km AS (SELECT least(substr(s, i, $k), ${sqlRc(s"substr(s, i, $k)")}) AS kmer FROM pos),
       |cnt AS (SELECT kmer, COUNT(*) AS c FROM km GROUP BY kmer)""".stripMargin

  /** The counter pipeline core: sequences -> canonical word keys -> hash
    * count, as `(kv, count)`; `kv` is a `bigint` at k <= 31 and an
    * `array<bigint>` above ([[graft.core.KmerIter.canonicalWords]]). Decode
    * happens in the caller, after the agg. */
  def countCanonical(seqs: Dataset[String], k: Int): DataFrame = {
    import seqs.sparkSession.implicits._
    (if (k <= 31) seqs.flatMap(s => KmerIter.canonicalLong(s, k)).toDF("kv")
    else seqs.flatMap(s => KmerIter.canonicalWords(s, k)).toDF("kv"))
      .groupBy("kv").count()
  }

  /** The count key of a string k-mer column given in either orientation —
    * the key [[countCanonical]] gives the same k-mer. A row that is not
    * exactly k ACGT bases fails the job, naming the row. */
  def kmerKey(kmer: Column, k: Int): Column = {
    val key = udf { (s: String) =>
      val it = if (s != null && s.length == k) KmerIter.canonicalWords(s, k) else Iterator.empty
      require(it.hasNext, s"k-mer row '$s' is not $k ACGT bases")
      it.next()
    }
    if (k <= 31) key(kmer)(0) else key(kmer)
  }

  /** `(kv, count)` counts of either key type as `(kmer, count)` strings. */
  def decodeCounts(df: DataFrame, k: Int): DataFrame = {
    import df.sparkSession.implicits._
    (if (k <= 31) df.as[(Long, Long)].map { case (kv, c) => (KmerCodec.decodeLong(kv, k), c) }
    else df.as[(Array[Long], Long)]
      .map { case (kv, c) => (KmerCodec.decodeBlocks(KmerCodec.wordsToBlocks(kv, 0, k)), c) })
      .toDF("kmer", "count")
  }

  private def docSeqs(s: SparkSession, d: String, col64: Boolean): Dataset[String] = {
    import s.implicits._
    val c = if (col64) dna64(col("doc_id")) else dna32(col("doc_id"))
    documents(s, d).select(c.cast("string")).as[String]
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // -- A1+P3+P4: THE aggregation — canonical k-mer count (k<=31 path) ----
    "g1_kmer_count" -> ((s, d) =>
      decodeCounts(countCanonical(docSeqs(s, d, col64 = false), 15), 15)),

    // -- k>31 path: 2-word keys, grouped on array<bigint> (A1 64-bit) ------
    "g2_kmer_count_blocks" -> ((s, d) =>
      decodeCounts(countCanonical(docSeqs(s, d, col64 = true), 40), 40)),

    // -- P13: coverage-range filter after the count (k=7 so repeats exist) -
    "g3_coverage_filter" -> ((s, d) =>
      decodeCounts(
        countCanonical(docSeqs(s, d, col64 = false), 7)
          .filter(col("count").between(2, 1000)), 7)),

    // -- J2: fork filter — per (k-1)-prefix keep max-coverage kmer ---------
    "g4_fork_filter" -> ((s, d) => {
      val cnt = decodeCounts(countCanonical(docSeqs(s, d, col64 = false), 15), 15)
      val byPrefix = Window.partitionBy(col("prefix"))
      val w = byPrefix.orderBy(col("count").desc, col("kmer"))
      cnt.withColumn("prefix", substring(col("kmer"), 1, 14))
        .withColumn("rn", row_number().over(w))
        .withColumn("n_forks", count(lit(1)).over(byPrefix))
        .filter(col("rn") === 1)
        .select(col("prefix"), col("kmer"), col("count"), col("n_forks"))
    }),

    // -- P6: RC mirror emit (doubles the table; k odd => no palindromes) ---
    "g5_rc_mirror" -> ((s, d) => {
      import s.implicits._
      countCanonical(docSeqs(s, d, col64 = false), 11)
        .as[(Long, Long)]
        .flatMap { case (kv, _) =>
          Seq((KmerCodec.decodeLong(kv, 11), "f"),
            (KmerCodec.decodeLong(KmerCodec.rcLong(kv, 11), 11), "r"))
        }
        .toDF("kmer", "orient")
    }),

    // -- k-mer spectrum: histogram of coverages (count-of-counts) ----------
    "g6_kmer_spectrum" -> ((s, d) =>
      countCanonical(docSeqs(s, d, col64 = false), 7)
        .groupBy(col("count").as("coverage")).agg(count(lit(1)).as("n_kmers"))
        .select(col("coverage"), col("n_kmers"))),

    // -- per-sequence GC content (the standard genome metric next to N50) --
    // integer base counts + one final rounded division: engine-exact
    "g12_gc_content" -> ((s, d) => {
      val seq = dna64(col("doc_id"))
      documents(s, d).select(
        col("doc_id"),
        (length(seq) - length(translate(seq, "GC", ""))).cast("long").as("gc"),
        length(seq).cast("long").as("len"))
        .select(col("doc_id"), col("gc"), col("len"),
          round(col("gc").cast("double") / col("len"), 4).as("gc_frac"))
    }),

    // -- g13: minimizer sketch -------------------------------------------
    // the modern mapper/assembler staple (minimap2, SKESA): per read, each
    // window of w consecutive canonical k-mers contributes its hash-
    // minimal k-mer; the distinct-minimizer table (~2/(w+1) of all
    // positions) replaces the full k-mer table for seeding/partitioning.
    // Order key is md5 of the canonical k-mer so both engines rank
    // identically; production swaps xxhash64 on the packed-Long key, same
    // plan (the d13 rationale — only the SELECTED SET must be preserved).
    // Scale: the min-over-window runs per read (ROWS frame, bounded by
    // read length, parallel across reads); selected windows collapse by
    // hash BEFORE the join that recovers the k-mer text, so the recovery
    // join touches minimizers only. k=11, w=8 over the 64-base reads.
    "g13_minimizers" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      val k = 11; val w = 8
      val seq = documents(s, d).select(col("doc_id"), dna64(col("doc_id")).as("s"))
      // per-doc minimizer selection in ONE narrow CODEGEN'D projection:
      // [[graft.functions.MinimizerWindows]] computes canonical k-mers,
      // md5 ranking (oracle parity) and per-window selection in a single
      // native kernel call per read — the previous declarative
      // transform(md5-struct)→slice→array_min chain was CodegenFallback
      // (interpreted per-element lambdas + per-k-mer substring/translate/
      // reverse allocations) and dominated the stage. Short inputs yield
      // an empty array (the old explicit length guard, now in-kernel).
      // The only shuffles left are the two aggregations, keyed by the
      // 11-char k-mer, not 32-char md5 hex.
      val sel = seq
        .select(col("doc_id"),
          explode(expr(s"minimizer_windows(s, $k, $w)")).as("km"))
      sel.groupBy(col("doc_id"), col("km"))
        .agg(count(lit(1)).as("n_win"))
        .groupBy("km")
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          sum(col("n_win")).as("n_sel"))
    }),

    // -- g14: minimizer-seeded overlap candidates ------------------------
    // minimap2's seeding stage (Li 2018 §2.1): two reads overlap iff they
    // share minimizers, so overlap detection is an equality join on the
    // sketch — never an all-pairs alignment. Reads are sliding windows
    // (len 32, step 8) of each doc's 64-base sequence (the a1 convention),
    // so genuine overlaps exist; rid = doc_id*8 + window index. Repeat
    // masking: minimizers in >8 reads are dropped (minimap2's high-
    // frequency filter), bounding every bucket at C(8,2) pairs — the d6
    // rationale — so candidate generation is cartesian-free at any corpus
    // size. Pairs sharing >=3 minimizers are the chaining candidates; on
    // this corpus that recovers ALL 4-per-doc adjacent pairs (24-base
    // overlap) with zero cross-doc false positives (spec).
    "g14_minimizer_overlap" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      val k = 11; val w = 4
      val reads = documents(s, d)
        .select(col("doc_id"), dna64(col("doc_id")).as("g"))
        .select(col("doc_id"),
          posexplode(expr("transform(sequence(1, 33, 8), i -> substring(g, i, 32))")))
        .select((col("doc_id") * 8 + col("pos")).as("rid"), col("col").as("r"))
      // Minimizer selection happens entirely inside ONE narrow CODEGEN'D
      // projection: [[graft.functions.MinimizerMd5]] computes canonical
      // k-mers, md5 hashes, w-window minima and the per-read distinct in
      // a single native kernel call (minima are selected on raw digest
      // bytes — the same order as hex strings — and only winners are
      // hex-encoded). The previous declarative transform(md5)→slice→
      // array_min→array_distinct chain was CodegenFallback: interpreted
      // lambdas plus per-k-mer substring/translate/reverse/least
      // allocations dominated the sketch stage that g15/g16 also pay.
      // Selection ordering stays md5 (oracle parity), but nothing
      // string-typed ever reaches a shuffle: the selected minimizer is
      // immediately folded to an xxhash64 long, so the df-count /
      // rare-join / self-join all shuffle 8-byte keys instead of 32-char
      // hex.
      val sel = reads
        .select(col("rid"), explode(expr(s"minimizer_md5(r, $k, $w)")).as("mmh"))
        .select(col("rid"), xxhash64(col("mmh")).as("mk"))
      val rare = sel.groupBy("mk").agg(count(lit(1)).as("df"))
        .filter(col("df").between(2, 8)).select("mk")
      // both sides of the self-join consume fsel — materialize once so
      // the interpreted-HOF hashing projection runs a single time
      val fsel = sel.join(rare, "mk").localCheckpoint()
      fsel.select(col("mk"), col("rid").as("ra"))
        .join(fsel.select(col("mk"), col("rid").as("rb")), "mk")
        .filter(col("ra") < col("rb"))
        .groupBy("ra", "rb").agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 3)
    }),

    // -- g15: PageRank over the overlap graph ------------------------------
    // graph centrality on g14's read-overlap graph — the repeat-detection
    // signal an assembler reads off its string graph (high-rank nodes =
    // reads many others overlap, i.e. repeats/high-coverage loci). FP
    // PageRank sums are order-dependent, so ranks are INTEGER-scaled
    // (x1e4) with damping as exact rational arithmetic: r' = 1500 +
    // (85 * sum(r div deg)) div 100 — both engines do the same truncating
    // divisions on positive ints, so 3 unrolled iterations are engine-
    // exact. Scale: each iteration is ONE hash shuffle of the edge table
    // (join on src + groupBy dst), the classic distributed-PageRank shape;
    // the candidate graph is localCheckpoint'd so iterations don't replay
    // the sketch pipeline.
    "g15_overlap_pagerank" -> ((s, d) => {
      val pairs = queries("g14_minimizer_overlap")(s, d)
      // degree is folded INTO the checkpointed edge table, so each
      // iteration is exactly one join + one hash agg on one materialized
      // input; the rank table is localCheckpoint'd per round so iteration
      // N's lineage doesn't replay iterations 1..N-1.
      val e0 = pairs.select(col("ra").as("src"), col("rb").as("dst"))
        .union(pairs.select(col("rb").as("src"), col("ra").as("dst")))
      val edges = e0
        .join(e0.groupBy("src").agg(count(lit(1)).as("deg")), "src")
        .localCheckpoint()
      var r = edges.select(col("src").as("rid")).distinct()
        .withColumn("r", lit(10000L)).localCheckpoint()
      for (_ <- 1 to 3) {
        r = edges.join(r, col("src") === col("rid"))
          .select(col("dst"), expr("r div deg").as("ct"))
          .groupBy("dst").agg(sum(col("ct")).as("contrib"))
          .select(col("dst").as("rid"),
            expr("1500 + (85 * contrib) div 100").as("r"))
          .localCheckpoint()
      }
      r.select(col("rid"), col("r").as("pr"))
    }),

    // -- g16: overlap-graph component census -------------------------------
    // the fragmentation report an assembler reads before scaffolding: how
    // many connected pieces does the string graph have, and how big are
    // they. Components via GraphOps.connectedComponents (hash-to-min,
    // O(log n) shuffle rounds; gated single-task union-find last mile on
    // small edge sets — the same engine d7's near-dup clusters are
    // oracle-proven on); the census itself is two vocabulary-sized hash
    // aggs over the node table, never the corpus.
    "g16_component_census" -> ((s, d) => {
      val pairs = queries("g14_minimizer_overlap")(s, d)
      GraphOps.connectedComponents(
          pairs.select(col("ra").as("x"), col("rb").as("y")))
        .groupBy("component").agg(count(lit(1)).as("csize"))
        .groupBy("csize").agg(count(lit(1)).as("n_comp"))
    }),

    // -- g17: per-node triangle census on the overlap graph ----------------
    // the local-clustering numerator: how many triangles each read sits in
    // — the transitivity signal that separates tangled repeat clusters
    // (dense, triangle-rich) from clean linear contig paths (triangle-
    // free). Scale shape is the standard degree-ordered orientation: every
    // edge points from its lower-(deg, id) endpoint to the higher one,
    // making the graph a DAG whose out-degrees are O(sqrt m); wedges
    // enumerate at each triangle's LOWEST-degree vertex and close with one
    // equi-join back onto the oriented edge table, so total work stays
    // within the O(m^1.5) bound no matter how skewed the hubs are — a
    // plain id-ordered enumeration would square the hottest hub's degree.
    // Per-node counts are orientation-invariant, so the oracle states the
    // simple a<b<c 3-way self-join form. Engine: [[GraphOps.triangleCounts]]
    // (unit-proven on K4 / star / path topologies).
    "g17_triangles" -> ((s, d) => {
      val pairs = queries("g14_minimizer_overlap")(s, d)
      GraphOps.triangleCounts(
        pairs.select(col("ra").as("x"), col("rb").as("y")))
    }),

    // -- g18: 2-core of the overlap graph ----------------------------------
    // the standard assembly-graph densest-region extractor: iterative
    // peeling keeps exactly the reads whose overlap neighborhoods are
    // mutually supported (every member keeps >= 2 co-surviving overlap
    // neighbors — the tree-like fringes and pendant reads peel away) and drops the
    // linear contig fringes g17's triangle census already flags as sparse.
    // Engine is [[GraphOps.kcore]] (one degree agg + two semi-joins per
    // peel round on a checkpointed edge table — state never exceeds the
    // current induced subgraph, rounds bounded by peeling depth, not
    // corpus size). Oracle states the same fixpoint as an iteration-tagged
    // bounded recursion: survivors(i+1) = nodes with >= 3 neighbors in
    // survivors(i); the 30-round bound is far past convergence for the
    // ~8-read overlap clusters this graph is made of (unit spec covers the
    // slow-peeling path-graph regime directly).
    "g18_kcore" -> ((s, d) => {
      val pairs = queries("g14_minimizer_overlap")(s, d)
      GraphOps.kcore(
        pairs.select(col("ra").as("x"), col("rb").as("y")), k = 2)
    }),

    // -- g19: 3-truss of the overlap graph ---------------------------------
    // the edge-level sharpening of g18: an edge survives only while it
    // closes >= 1 triangle among SURVIVING edges, so spurious overlaps
    // (minimizer collisions linking unrelated reads) peel away even when
    // both endpoints are individually well-connected — the standard
    // community-pruning step between candidate generation and assembly.
    // Engine: [[GraphOps.ktruss]] (per-round triangle kernel reusing g17's
    // degree-ordered O(m^1.5) enumeration + one agg + one semi-join).
    // Oracle: the same fixpoint as a bounded iteration-tagged recursion —
    // survivors(i+1) = edges with a common neighbor among survivors(i) —
    // with the final supports recomputed on the it=20 set.
    "g19_ktruss" -> ((s, d) => {
      val pairs = queries("g14_minimizer_overlap")(s, d)
      GraphOps.ktruss(
        pairs.select(col("ra").as("x"), col("rb").as("y")), k = 3)
    }),

    // -- g20: multi-source BFS hop distance --------------------------------
    // the scaffolding walk from anchor reads (and the canonical Pregel
    // iteration): every 5th read seeds at distance 0 and the frontier
    // expands 4 hops through the overlap graph. Engine is
    // [[GraphOps.bfsHops]] — per-round cost is the FRONTIER's edge
    // boundary (join + distinct + anti-join against the settled set),
    // never the graph, and settled hops are final so nothing is
    // revisited; at 100 TB that is the difference between 4 frontier
    // shuffles and 4 whole-graph shuffles. Oracle: UNION-recursive walk
    // (globally deduped, so it is volume-bounded by nodes x hops) with
    // MIN(dist) per reached node; unreached nodes are absent on both
    // sides.
    "g20_bfs_hops" -> ((s, d) => {
      val pairs = queries("g14_minimizer_overlap")(s, d)
      GraphOps.bfsHops(pairs.select(col("ra").as("x"), col("rb").as("y")),
        col("node") % 5 === 0, maxHops = 4)
    }),

    // -- g21: community modularity over the overlap graph ------------------
    // the partition-quality score (Newman Q) every clustering pass needs
    // as its acceptance metric: Q = sum_c [ m_in(c)/m - (deg(c)/2m)^2 ].
    // The partition under test is one hash-to-min round (lbl(v) =
    // min(v, min neighbor) — the first step of g16's CC reduction), which
    // genuinely fragments components, so internal AND cross edges are
    // both live and the two Q terms really compete. Emitted per community
    // (integers + one rounded double from fixed-order integer arithmetic)
    // so a driver sums q_contrib for the global Q. At scale: the label is
    // ONE map-side-combined aggregation, every modularity term is an
    // equi-join on v/lbl, and m rides a 1-row broadcast — nothing holds
    // the graph in one place.
    "g21_modularity" -> ((s, d) =>
      GraphOps.modularityCommunities(
        queries("g14_minimizer_overlap")(s, d)
          .select(col("ra").as("x"), col("rb").as("y")))),

    // -- P7: forward sub-kmer split (prefix key, marker, extension base) ---
    "g7_subkmer_split" -> ((s, d) => {
      import s.implicits._
      countCanonical(docSeqs(s, d, col64 = false), 15)
        .as[(Long, Long)]
        .map { case (kv, c) =>
          (KmerCodec.decodeLong(kv >>> 2, 14), 1,
            KmerCodec.base((kv & 3L).toInt).toString, c)
        }
        .toDF("sub", "marker", "ext", "count")
    }),

    // -- J3: fork filter with error correction — classify edges ------------
    // (k=7 so forks and coverage spread exist; minErrorCoverage = 8)
    "g8_fork_classify" -> ((s, d) => {
      val cnt = decodeCounts(countCanonical(docSeqs(s, d, col64 = false), 7), 7)
        .withColumn("prefix", substring(col("kmer"), 1, 6))
      val byPrefix = Window.partitionBy(col("prefix"))
      cnt
        .withColumn("rn", row_number().over(byPrefix.orderBy(col("count").desc, col("kmer"))))
        .withColumn("wc", max(col("count")).over(byPrefix))
        .select(col("prefix"), col("kmer"), col("count"),
          when(col("rn") === 1, "win")
            .when(col("count") <= 8 && col("wc") >= col("count") * 2, "drop")
            .otherwise("keep").as("status"))
    }),

    // -- P8: reflected sub-kmer derive (suffix key, marker=2, head base) ---
    "g9_subkmer_reflected" -> ((s, d) => {
      import s.implicits._
      countCanonical(docSeqs(s, d, col64 = false), 15)
        .as[(Long, Long)]
        .map { case (kv, c) =>
          (KmerCodec.decodeLong(kv & ((1L << 28) - 1), 14), 2,
            KmerCodec.base((kv >>> 28).toInt & 3).toString, c)
        }
        .toDF("sub", "marker", "ext", "count")
    }),

    // -- P10: sub-kmer -> full-kmer reassembly (split then rebuild == A1) --
    "g10_reassemble" -> ((s, d) => {
      import s.implicits._
      countCanonical(docSeqs(s, d, col64 = false), 15)
        .as[(Long, Long)]
        .map { case (kv, c) => (kv >>> 2, (kv & 3L).toInt, c) } // split (P7)
        .map { case (sub, ext, c) =>                            // rebuild (P10)
          (KmerCodec.decodeLong((sub << 2) | ext, 15), c)
        }
        .toDF("kmer", "count")
    }),

    // -- native Catalyst expression path: canonical_kmer() inside codegen --
    // (same semantics as g1's typed flatMap, entirely declarative: explode
    // positions -> substring -> canonical_kmer expression -> hash agg)
    "g11_canonical_expr" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      documents(s, d)
        .select(dna32(col("doc_id")).as("s"))
        .filter(length(col("s")) >= 15) // sequence() descends below k-length
        .select(col("s"), explode(sequence(lit(1), length(col("s")) - 14)).as("i"))
        .selectExpr("canonical_kmer(substring(s, i, 15)) AS kmer")
        .groupBy("kmer").count()
    })
  )

  /** Shared oracle CTE chain for g14/g15: minimizer-seeded overlap
    * candidate pairs over sliding-window reads (ends with `pairs`). */
  private lazy val sqlOverlapPairs =
    s"""WITH g AS (SELECT doc_id, $sqlDna64 AS s FROM documents),
       |reads AS (SELECT doc_id * 8 + (st - 1) // 8 AS rid, substr(s, st, 32) AS r
       |  FROM (SELECT doc_id, s, unnest(generate_series(1, 33, 8)) AS st FROM g)),
       |h AS (SELECT rid, i,
       |    md5(least(substr(r, i, 11), ${sqlRc("substr(r, i, 11)")})) AS mh
       |  FROM (SELECT rid, r, unnest(generate_series(1, 22)) AS i FROM reads)),
       |wmin AS (SELECT rid, i,
       |    MIN(mh) OVER (PARTITION BY rid ORDER BY i
       |                  ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS mmh
       |  FROM h),
       |sel AS (SELECT DISTINCT rid, mmh FROM wmin WHERE i <= 19),
       |rare AS (SELECT mmh FROM sel GROUP BY mmh HAVING COUNT(*) BETWEEN 2 AND 8),
       |fsel AS (SELECT s.rid, s.mmh FROM sel s JOIN rare USING (mmh)),
       |pairs AS (SELECT a.rid AS ra, b.rid AS rb, COUNT(*) AS n_shared
       |  FROM fsel a JOIN fsel b ON a.mmh = b.mmh AND a.rid < b.rid
       |  GROUP BY a.rid, b.rid HAVING COUNT(*) >= 3)""".stripMargin

  def oracles: Map[String, String] = Map(
    "g1_kmer_count" ->
      (sqlKmerCounts(15) + "\nSELECT kmer, c AS count FROM cnt"),
    "g2_kmer_count_blocks" ->
      s"""WITH seq AS (SELECT $sqlDna64 AS s FROM documents),
         |pos AS (SELECT s, unnest(generate_series(1, length(s) - 40 + 1)) AS i FROM seq),
         |km AS (SELECT least(substr(s, i, 40), ${sqlRc("substr(s, i, 40)")}) AS kmer FROM pos)
         |SELECT kmer, COUNT(*) AS count FROM km GROUP BY kmer""".stripMargin,
    "g3_coverage_filter" ->
      (sqlKmerCounts(7) + "\nSELECT kmer, c AS count FROM cnt WHERE c BETWEEN 2 AND 1000"),
    "g4_fork_filter" ->
      (sqlKmerCounts(15) +
        """
          |SELECT prefix, kmer, count, n_forks FROM (
          |  SELECT substr(kmer, 1, 14) AS prefix, kmer, c AS count,
          |    ROW_NUMBER() OVER (PARTITION BY substr(kmer, 1, 14) ORDER BY c DESC, kmer) AS rn,
          |    COUNT(*) OVER (PARTITION BY substr(kmer, 1, 14)) AS n_forks
          |  FROM cnt) WHERE rn = 1""".stripMargin),
    "g5_rc_mirror" ->
      (sqlKmerCounts(11) +
        s"""
           |SELECT kmer, 'f' AS orient FROM cnt
           |UNION ALL
           |SELECT ${sqlRc("kmer")} AS kmer, 'r' AS orient FROM cnt""".stripMargin),
    "g6_kmer_spectrum" ->
      (sqlKmerCounts(7) +
        "\nSELECT c AS coverage, COUNT(*) AS n_kmers FROM cnt GROUP BY c"),
    "g12_gc_content" ->
      s"""WITH seq AS (SELECT doc_id, $sqlDna64 AS s FROM documents)
         |SELECT doc_id,
         |  CAST(length(s) - length(translate(s, 'GC', '')) AS BIGINT) AS gc,
         |  CAST(length(s) AS BIGINT) AS len,
         |  round(CAST(length(s) - length(translate(s, 'GC', '')) AS DOUBLE)
         |    / length(s), 4) AS gc_frac
         |FROM seq""".stripMargin,
    "g13_minimizers" ->
      s"""WITH seq AS (SELECT doc_id, $sqlDna64 AS s FROM documents),
         |km AS (
         |  SELECT doc_id, i, length(s) - 10 AS np,
         |         least(substr(s, i, 11),
         |               ${sqlRc("substr(s, i, 11)")}) AS km
         |  FROM (SELECT doc_id, s,
         |          unnest(generate_series(1, length(s) - 10)) AS i FROM seq)),
         |h AS (SELECT doc_id, i, np, km, md5(km) AS mh FROM km),
         |wmin AS (
         |  SELECT doc_id, i, np,
         |         MIN(mh) OVER (PARTITION BY doc_id ORDER BY i
         |                       ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS mmh
         |  FROM h),
         |sel AS (
         |  SELECT doc_id, mmh, COUNT(*) AS n_win
         |  FROM wmin WHERE i <= np - 7 GROUP BY doc_id, mmh),
         |dict AS (SELECT DISTINCT mh, km FROM h)
         |SELECT km, COUNT(DISTINCT s.doc_id) AS n_docs,
         |       CAST(SUM(n_win) AS BIGINT) AS n_sel
         |FROM sel s JOIN dict d ON s.mmh = d.mh
         |GROUP BY km""".stripMargin,
    "g14_minimizer_overlap" ->
      (sqlOverlapPairs + "\nSELECT ra, rb, n_shared FROM pairs"),
    // triangles in the plain a<b<c form (counts are orientation-invariant)
    "g17_triangles" ->
      (sqlOverlapPairs + """,
         |tri AS (SELECT e1.ra AS a, e1.rb AS b, e2.rb AS c
         |        FROM pairs e1
         |        JOIN pairs e2 ON e2.ra = e1.rb
         |        JOIN pairs e3 ON e3.ra = e1.ra AND e3.rb = e2.rb),
         |verts AS (SELECT a AS rid FROM tri
         |          UNION ALL SELECT b FROM tri
         |          UNION ALL SELECT c FROM tri)
         |SELECT rid, COUNT(*) AS n_tri FROM verts GROUP BY rid""".stripMargin),
    "g15_overlap_pagerank" ->
      (sqlOverlapPairs + """,
         |edges AS (SELECT ra AS src, rb AS dst FROM pairs
         |          UNION ALL SELECT rb, ra FROM pairs),
         |deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
         |r0 AS (SELECT src AS rid, CAST(10000 AS BIGINT) AS r FROM deg),
         |i1 AS (SELECT e.dst AS rid,
         |    1500 + (85 * CAST(SUM(r.r // d.deg) AS BIGINT)) // 100 AS r
         |  FROM edges e JOIN r0 r ON e.src = r.rid JOIN deg d ON d.src = e.src
         |  GROUP BY e.dst),
         |i2 AS (SELECT e.dst AS rid,
         |    1500 + (85 * CAST(SUM(r.r // d.deg) AS BIGINT)) // 100 AS r
         |  FROM edges e JOIN i1 r ON e.src = r.rid JOIN deg d ON d.src = e.src
         |  GROUP BY e.dst),
         |i3 AS (SELECT e.dst AS rid,
         |    1500 + (85 * CAST(SUM(r.r // d.deg) AS BIGINT)) // 100 AS r
         |  FROM edges e JOIN i2 r ON e.src = r.rid JOIN deg d ON d.src = e.src
         |  GROUP BY e.dst)
         |SELECT rid, r AS pr FROM i3""".stripMargin),
    // 3-truss: surv at step i holds the surviving UNDIRECTED edge rows
    // (both orientations); an edge row survives when it has at least one
    // common neighbor among co-surviving edges (three references to the
    // recursive table — all see the same working table). Final supports
    // are recomputed on the it=20 fixpoint set over u < v rows only.
    "g19_ktruss" ->
      ("WITH RECURSIVE " + sqlOverlapPairs.stripPrefix("WITH ") + """,
         |und AS (SELECT ra AS u, rb AS v FROM pairs
         |        UNION SELECT rb, ra FROM pairs),
         |surv AS (
         |  SELECT u, v, 0 AS it FROM und
         |  UNION ALL
         |  SELECT e.u, e.v, e.it + 1
         |  FROM surv e
         |  JOIN surv a ON a.it = e.it AND a.u = e.u AND a.v <> e.v
         |  JOIN surv b ON b.it = e.it AND b.u = e.v AND b.v = a.v
         |  WHERE e.it < 20
         |  GROUP BY e.u, e.v, e.it HAVING COUNT(*) >= 1),
         |core AS (SELECT u, v FROM surv WHERE it = 20)
         |SELECT e.u, e.v, COUNT(*) AS sup
         |FROM core e
         |JOIN core a ON a.u = e.u AND a.v <> e.v
         |JOIN core b ON b.u = e.v AND b.v = a.v
         |WHERE e.u < e.v
         |GROUP BY e.u, e.v""".stripMargin),
    // 2-core as an iteration-tagged bounded recursion: the working table
    // at step i holds survivors(i), and a node survives to i+1 when >= 2
    // of its neighbors are co-survivors (two references to the recursive
    // table — both see the same working table). Rows tagged it=30 are the
    // fixpoint (iterating past convergence re-emits the same set; an
    // empty core terminates the recursion and returns zero rows).
    "g18_kcore" ->
      ("WITH RECURSIVE " + sqlOverlapPairs.stripPrefix("WITH ") + """,
         |und AS (SELECT ra AS u, rb AS v FROM pairs
         |        UNION SELECT rb, ra FROM pairs),
         |surv AS (
         |  SELECT DISTINCT u AS rid, 0 AS it FROM und
         |  UNION ALL
         |  SELECT s.rid, s.it + 1
         |  FROM surv s JOIN und e ON e.u = s.rid JOIN surv s2 ON s2.rid = e.v
         |  WHERE s.it < 30
         |  GROUP BY s.rid, s.it HAVING COUNT(*) >= 2),
         |core AS (SELECT rid FROM surv WHERE it = 30)
         |SELECT e.u AS rid, COUNT(*) AS deg_core
         |FROM und e JOIN core a ON a.rid = e.u JOIN core b ON b.rid = e.v
         |GROUP BY e.u""".stripMargin),
    "g20_bfs_hops" ->
      ("WITH RECURSIVE " + sqlOverlapPairs.stripPrefix("WITH ") + """,
         |und AS (SELECT ra AS u, rb AS v FROM pairs
         |        UNION SELECT rb, ra FROM pairs),
         |walk AS (
         |  SELECT DISTINCT u AS node, 0 AS dist FROM und WHERE u % 5 = 0
         |  UNION
         |  SELECT e.v, w.dist + 1
         |  FROM walk w JOIN und e ON e.u = w.node
         |  WHERE w.dist < 4)
         |SELECT node AS rid, CAST(MIN(dist) AS BIGINT) AS dist
         |FROM walk GROUP BY node""".stripMargin),
    // one-round hash-to-min partition + Newman Q terms over it; the
    // (x*x) form (not pow) keeps the doubles bit-identical across engines
    "g21_modularity" ->
      (sqlOverlapPairs + """,
         |edges AS (SELECT ra AS x, rb AS y FROM pairs
         |          UNION ALL SELECT rb, ra FROM pairs),
         |deg AS (SELECT x AS v, COUNT(*) AS deg FROM edges GROUP BY x),
         |lbl AS (SELECT x AS v, LEAST(x, MIN(y)) AS lbl FROM edges GROUP BY x),
         |mm AS (SELECT COUNT(*) AS m FROM pairs),
         |inte AS (SELECT la.lbl AS lbl, COUNT(*) AS m_in
         |         FROM pairs p
         |         JOIN lbl la ON p.ra = la.v
         |         JOIN lbl lb ON p.rb = lb.v AND la.lbl = lb.lbl
         |         GROUP BY la.lbl),
         |agg AS (SELECT l.lbl, COUNT(*) AS n_nodes, CAST(SUM(d.deg) AS BIGINT) AS deg_sum
         |        FROM lbl l JOIN deg d ON l.v = d.v GROUP BY l.lbl)
         |SELECT a.lbl AS community, a.n_nodes,
         |  CAST(coalesce(i.m_in, 0) AS BIGINT) AS m_in, a.deg_sum,
         |  round(CAST(coalesce(i.m_in, 0) AS DOUBLE) / mm.m -
         |        (CAST(a.deg_sum AS DOUBLE) / (mm.m * 2)) *
         |        (CAST(a.deg_sum AS DOUBLE) / (mm.m * 2)), 6) + 0.0 AS q_contrib
         |FROM agg a LEFT JOIN inte i ON a.lbl = i.lbl CROSS JOIN mm""".stripMargin),
    "g16_component_census" ->
      ("WITH RECURSIVE " + sqlOverlapPairs.stripPrefix("WITH ") + """,
         |edges AS (SELECT ra AS x, rb AS y FROM pairs
         |          UNION SELECT rb, ra FROM pairs),
         |reach AS (SELECT x, y FROM edges
         |          UNION
         |          SELECT r.x, e.y FROM reach r JOIN edges e ON r.y = e.x),
         |comp AS (SELECT x, least(x, MIN(y)) AS component FROM reach GROUP BY x),
         |cs AS (SELECT component, COUNT(*) AS csize FROM comp GROUP BY component)
         |SELECT csize, COUNT(*) AS n_comp FROM cs GROUP BY csize""".stripMargin),
    "g7_subkmer_split" ->
      (sqlKmerCounts(15) +
        """
          |SELECT substr(kmer, 1, 14) AS sub, 1 AS marker,
          |  substr(kmer, 15, 1) AS ext, c AS count FROM cnt""".stripMargin),
    "g8_fork_classify" ->
      (sqlKmerCounts(7) +
        """
          |SELECT prefix, kmer, count,
          |  CASE WHEN rn = 1 THEN 'win'
          |       WHEN count <= 8 AND wc >= count * 2 THEN 'drop'
          |       ELSE 'keep' END AS status
          |FROM (
          |  SELECT substr(kmer, 1, 6) AS prefix, kmer, c AS count,
          |    ROW_NUMBER() OVER (PARTITION BY substr(kmer, 1, 6) ORDER BY c DESC, kmer) AS rn,
          |    MAX(c) OVER (PARTITION BY substr(kmer, 1, 6)) AS wc
          |  FROM cnt)""".stripMargin),
    "g9_subkmer_reflected" ->
      (sqlKmerCounts(15) +
        """
          |SELECT substr(kmer, 2, 14) AS sub, 2 AS marker,
          |  substr(kmer, 1, 1) AS ext, c AS count FROM cnt""".stripMargin),
    "g10_reassemble" ->
      (sqlKmerCounts(15) + "\nSELECT kmer, c AS count FROM cnt"),
    "g11_canonical_expr" ->
      (sqlKmerCounts(15) + "\nSELECT kmer, c AS count FROM cnt")
  )
}
