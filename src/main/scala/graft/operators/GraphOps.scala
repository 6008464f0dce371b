package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables._
import graft.core.Fixpoint

/** Graph-shape operators (SURVEY J11/J12): De Bruijn node classification
  * (repeat/branch detection feeding the reference's `-scramble` two-branch
  * processing) and the low-coverage fragment path (detect gaps between
  * solid anchors and emit the bridging read fragment for re-union into the
  * assembly loop, `ReflexivDSMain.java:585-670`).
  */
object GraphOps extends QueryFamily {
  private val K = 7

  /** The union-find task's only row when it overflows: component > node,
    * which no real row has (a component is its members' minimum id). */
  private val Overflow = (Long.MinValue, Long.MaxValue)

  /** Distributed connected components via hash-to-min (Rastogi et al.,
    * "Finding Connected Components in Map-Reduce in Logarithmic Rounds"):
    * each round every node rewires its whole neighborhood onto its
    * current minimum neighbor, so the component minimum reaches nodes at
    * doubling distances — O(log n) rounds on ANY topology, where plain
    * min-label propagation needs diameter rounds (a 10k-link chain of
    * near-dups would take 10k shuffles). Each round is one hash agg + one
    * join + a distinct; the rounds run in [[graft.core.Fixpoint]], which
    * stops once the edge set is stable.
    *
    * Input: undirected edges (x, y). Output: (node, component) where
    * component is the minimum node id in the component. For components
    * that are giant AND chain-shaped, the further refinement is
    * large-star/small-star (bounds intermediate edge growth); near-dup
    * graphs are tiny dense clusters, where hash-to-min's intermediate
    * size is within a constant of the input.
    *
    * Self-gated last mile (same pattern as Assembler's single-task gate):
    * after LSH/candidate generation the edge set is orders of magnitude
    * smaller than the corpus, so ONE `coalesce(1)` task first streams the
    * raw edges into a union-find (min root wins, so each root is its
    * component's minimum id). With n distinct nodes held and r rows
    * unioned, r' of them not self-loops, the task gives up as soon as the
    * next row would take `n + 2r'` or `r` past `localThreshold`, and then
    * emits only the [[Overflow]] row. `n + 2r'` is never below the size
    * of the symmetrized, self-looped, distinct edge set of those rows (the
    * count the gate is defined on) and equals it on duplicate-free a < b
    * input such as LSH pairs; so the task holds at most `localThreshold`
    * nodes (about `localThreshold / 3` on tree-like clusters), unions at
    * most `localThreshold` rows and reads at most one more. Its output is
    * localCheckpointed once, so every consumer reads one union-find run,
    * and `head(1)` of that checkpoint (the job that fills it) tells an
    * overflow apart. On overflow the hash-to-min rounds run from the
    * input edges; `localThreshold = 0` forces them. */
  def connectedComponents(edges0: DataFrame, maxRounds: Int = 50,
                          localThreshold: Long = 5000000L): DataFrame = {
    val s = edges0.sparkSession
    import s.implicits._
    val local = edges0.select(col("x").cast("long"), col("y").cast("long"))
      .as[(Long, Long)].coalesce(1).mapPartitions { it =>
        val parent = scala.collection.mutable.HashMap.empty[Long, Long]
        def find(a: Long): Long = {
          var r = a
          while (parent(r) != r) r = parent(r)
          var c = a
          while (parent(c) != c) { val nx = parent(c); parent(c) = r; c = nx }
          r
        }
        var load = 0L // n + 2r'
        var rows = 0L
        var over = false
        while (!over && it.hasNext) {
          val (x, y) = it.next()
          val grown = load + (if (parent.contains(x)) 0 else 1) +
            (if (x == y || parent.contains(y)) 0 else 1) + (if (x == y) 0 else 2)
          if (grown > localThreshold || rows >= localThreshold) over = true
          else {
            load = grown
            rows += 1
            parent.getOrElseUpdate(x, x)
            parent.getOrElseUpdate(y, y)
            val (rx, ry) = (find(x), find(y))
            // min root wins => each component's final root is its min id
            if (rx != ry) { if (rx < ry) parent(ry) = rx else parent(rx) = ry }
          }
        }
        if (over) Iterator(Overflow)
        else parent.keysIterator.toArray.iterator.map(n => (n, find(n)))
      }.toDF("node", "component").localCheckpoint(eager = false)
    val first = local.head(1)
    if (first.isEmpty || first(0).getLong(1) <= first(0).getLong(0)) return local

    val sym = edges0.select(col("x"), col("y"))
      .union(edges0.select(col("y").as("x"), col("x").as("y")))
      .union(edges0.select(col("x"), col("x").as("y"))) // self loop keeps isolated mins
      .distinct()
    val e = Fixpoint("cc", sym, maxRounds) { (e, _) =>
      val m = e.groupBy("x").agg(min(col("y")).as("m"))
      val j = e.join(m, "x")
      // hash-to-min round: the min learns x's whole neighborhood
      // (m, y) AND every neighbor learns the min (y, m) — both directions
      // are required; without the back-edges a node whose min-pointer
      // chain was rewired away never hears about the true minimum
      j.select(col("m").as("x"), col("y"))
        .union(j.select(col("y").as("x"), col("m").as("y")))
        .union(m.select(col("m").as("x"), col("x").as("y")))
        .union(m.select(col("x"), col("m").as("y")))
        .distinct()
    }
    e.groupBy(col("y").as("node")).agg(min(col("x")).as("component"))
  }

  /** k-core decomposition by iterative peeling: repeatedly drop every node
    * whose degree within the current survivor set is < k, until the edge
    * set is stable. Each round is one hash agg (degrees) + two semi-joins
    * (drop edges touching a peeled endpoint) on a localCheckpoint'd edge
    * table — never more state than the current induced subgraph, and the
    * round count is bounded by the peeling depth of the graph (small for
    * the dense near-dup/overlap clusters this runs on), not its size.
    * The rounds run in [[graft.core.Fixpoint]], the loop every convergent
    * operator shares (one count+hash fingerprint per round).
    *
    * Input: undirected edges (x, y), one row per edge, either orientation.
    * Output: (rid, deg_core) — every k-core member with its degree inside
    * the core. */
  def kcore(edges0: DataFrame, k: Int, maxRounds: Int = 200): DataFrame = {
    val core = Fixpoint("kcore", undirected(edges0), maxRounds) { (und, _) =>
      val keep = und.groupBy("u").agg(count(lit(1)).as("dg"))
        .filter(col("dg") >= k).select(col("u"))
      und.join(keep, "u")
        .join(keep.select(col("u").as("v")), "v")
        .select(col("u"), col("v"))
    }
    core.groupBy(col("u").as("rid")).agg(count(lit(1)).as("deg_core"))
  }

  /** Multi-source BFS hop distances — the Pregel-shaped frontier
    * iteration (GraphX/Giraph's canonical example, and the scaffolding
    * walk an assembler runs from anchor reads), as a
    * [[graft.core.Fixpoint]] over the growing (node, dist) table. Round h
    * expands ONLY the frontier, the `dist = h - 1` rows (one equi-join
    * against the checkpointed edge table + one distinct + one anti-join
    * against the settled set), so the edges a round joins are the
    * frontier's edge boundary, never the graph — and hop h is final the
    * round it is first reached (BFS invariant), so nothing is ever
    * revisited. `maxHops` bounds the rounds; a round that reaches no new
    * node leaves the table unchanged and ends the loop.
    *
    * Input: undirected edges (x, y), either orientation. Output:
    * (rid, dist) for every node within `maxHops` of a seed — unreached
    * nodes are absent, which is the answer, not a gap. */
  def bfsHops(edges0: DataFrame, seedPred: Column, maxHops: Int): DataFrame = {
    val und = undirected(edges0).localCheckpoint()
    val seeds = und.select(col("u").as("node")).distinct().filter(seedPred)
      .select(col("node"), lit(0L).as("dist"))
    val dist = Fixpoint("bfs_hops", seeds, maxHops) { (dist, h) =>
      val frontier = dist.filter(col("dist") === h - 1)
      dist.unionByName(frontier.join(und, frontier("node") === und("u"))
        .select(col("v").as("node")).distinct()
        .join(dist.select("node"), Seq("node"), "left_anti")
        .select(col("node"), lit(h.toLong).as("dist")))
    }
    dist.select(col("node").as("rid"), col("dist"))
  }

  /** Both orientations of every distinct undirected edge, as (u, v). */
  private def undirected(edges: DataFrame): DataFrame = {
    val pairs = edges.select(col("x"), col("y")).distinct()
    pairs.union(pairs.select(col("y"), col("x"))).toDF("u", "v").distinct()
  }

  private val sqlDna32 =
    "translate(md5(CAST(doc_id AS VARCHAR)), '0123456789abcdef', 'ACGTACGTACGTACGT')"
  /** Per-node triangle participation counts via degree-ordered wedge
    * enumeration. Every undirected edge is oriented from its lower-(deg,
    * id) endpoint to the higher one, so the oriented graph is a DAG with
    * out-degree O(sqrt m); each triangle is enumerated exactly once as a
    * wedge at its lowest-degree vertex plus one closing equi-join back
    * onto the oriented edge table — total work O(m^1.5) regardless of hub
    * skew, where an id-ordered enumeration would square the hottest hub's
    * degree. Input: undirected edges (x, y), one row per edge, either
    * orientation, no duplicates. Output: (rid, n_tri) for every node in
    * >= 1 triangle. */
  def triangleCounts(edges: DataFrame): DataFrame = {
    val pairs = edges.select(col("x"), col("y")).localCheckpoint()
    val und = pairs.union(pairs.select(col("y"), col("x"))).toDF("u", "v")
    enumTriangles(und)
      .select(explode(array(col("a"), col("b"), col("c"))).as("rid"))
      .groupBy("rid").agg(count(lit(1)).as("n_tri"))
  }

  /** Every triangle of the undirected both-direction edge table `und`,
    * exactly once, as (a, b, c) — a is the wedge apex (lowest (deg, id)),
    * b/c ordered by the same rank. Degree-ordered orientation keeps the
    * enumeration within O(m^1.5) under any hub skew (see
    * [[triangleCounts]]). */
  private def enumTriangles(und: DataFrame): DataFrame = {
    val deg = und.groupBy("u").agg(count(lit(1)).as("dg"))
    // oriented DAG edge table, consumed by both wedge sides + the close
    val o = und
      .join(deg.select(col("u"), col("dg").as("du")), "u")
      .join(deg.select(col("u").as("v"), col("dg").as("dv")), "v")
      .filter(col("du") < col("dv") ||
        (col("du") === col("dv") && col("u") < col("v")))
      .select(col("u"), col("v"), col("dv"))
      .localCheckpoint()
    val wedges = o.select(col("u"), col("v").as("wx"), col("dv").as("dx"))
      .join(o.select(col("u"), col("v").as("wy"), col("dv").as("dy")), "u")
      .filter(col("dx") < col("dy") ||
        (col("dx") === col("dy") && col("wx") < col("wy")))
    wedges
      .join(o.select(col("u").as("wx"), col("v").as("wy")), Seq("wx", "wy"))
      .select(col("u").as("a"), col("wx").as("b"), col("wy").as("c"))
  }

  /** k-truss: the maximal subgraph in which every EDGE sits in >= k-2
    * triangles (its "support") of the subgraph itself — the edge-level
    * sharpening of [[kcore]] (a k-truss is always inside a (k-1)-core but
    * prunes much harder: an edge can have high-degree endpoints yet zero
    * common neighbors). Iterative peel: each round enumerates triangles
    * of the SURVIVING edge set with the same degree-ordered O(m^1.5)
    * kernel as [[triangleCounts]], folds each triangle onto its 3
    * normalized edges, and drops edges below support — until the edge set
    * is stable. Rounds are bounded by the peeling depth; each round is
    * the triangle kernel + one hash agg + one semi-join on a
    * checkpointed table.
    *
    * Input: undirected edges (x, y). Output: (u, v, sup) per surviving
    * edge, u < v, with the final in-truss support. */
  def ktruss(edges0: DataFrame, k: Int, maxRounds: Int = 100): DataFrame = {
    // per-normalized-edge triangle support of the current edge set
    def support(e: DataFrame): DataFrame =
      enumTriangles(e).select(explode(array(
          struct(least(col("a"), col("b")).as("u"), greatest(col("a"), col("b")).as("v")),
          struct(least(col("a"), col("c")).as("u"), greatest(col("a"), col("c")).as("v")),
          struct(least(col("b"), col("c")).as("u"), greatest(col("b"), col("c")).as("v"))
        )).as("e"))
        .groupBy(col("e.u").as("u"), col("e.v").as("v"))
        .agg(count(lit(1)).as("sup"))
    var lastSup: DataFrame = null
    val truss = Fixpoint("ktruss", undirected(edges0), maxRounds) { (und, _) =>
      val sup = support(und).localCheckpoint()
      if (lastSup != null) Fixpoint.release(lastSup)
      lastSup = sup
      val keep = sup.filter(col("sup") >= k - 2)
        .select(col("u"), col("v"))
      und.join(keep.union(keep.select(col("v"), col("u"))), Seq("u", "v"), "left_semi")
    }
    // at the fixpoint the last support snapshot WAS computed on the final
    // edge set, so its >= k-2 rows are exactly the surviving edges with
    // their final supports (k >= 3: a zero-support edge never survives,
    // so every survivor appears in the snapshot)
    if (lastSup == null) support(truss) // empty input: empty (u, v, sup)
    else lastSup.filter(col("sup") >= k - 2)
  }

  private def sqlCanon(e: String) =
    s"least($e, reverse(translate($e, 'ACGT', 'TGCA')))"

  /** Newman modularity contributions per community under the one-round
    * hash-to-min label (lbl(v) = min(v, min neighbor)) — the g21 kernel,
    * extracted so crafted graphs can hit its seams directly (GraphOpsSpec
    * plants a ZERO-internal-edge community whose Q term rounds to -0.0:
    * the `+ 0.0` below is what normalizes that to the oracle's +0.0).
    * `pairs` is the undirected edge list, one row per edge, a != b. */
  def modularityCommunities(pairs0: DataFrame): DataFrame = {
    val pairs = pairs0.toDF("x", "y").localCheckpoint()
    val edges = pairs.union(pairs.select(col("y"), col("x"))).toDF("x", "y")
    val deg = edges.groupBy(col("x").as("v")).agg(count(lit(1)).as("deg"))
    val lbl = edges.groupBy(col("x").as("v")).agg(min(col("y")).as("mn"))
      .select(col("v"), least(col("v"), col("mn")).as("lbl"))
      .localCheckpoint()
    val m = broadcast(pairs.agg(count(lit(1)).as("m")))
    val inte = pairs
      .join(lbl.select(col("v").as("x"), col("lbl").as("la")), "x")
      .join(lbl.select(col("v").as("y"), col("lbl").as("lb")), "y")
      .filter(col("la") === col("lb"))
      .groupBy(col("la").as("lbl")).agg(count(lit(1)).as("m_in"))
    val qc = (col("m_in").cast("double") / col("m")) -
      (col("deg_sum").cast("double") / (col("m") * 2)) *
        (col("deg_sum").cast("double") / (col("m") * 2))
    lbl.join(deg, "v")
      .groupBy("lbl")
      .agg(count(lit(1)).as("n_nodes"), sum(col("deg")).as("deg_sum"))
      .join(inte, Seq("lbl"), "left_outer")
      .withColumn("m_in", coalesce(col("m_in"), lit(0L)))
      .crossJoin(m)
      .select(col("lbl").as("community"), col("n_nodes"), col("m_in"),
        col("deg_sum"), (round(qc, 6) + lit(0.0)).as("q_contrib"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // -- J12: node classification — degree-based repeat/branch detection ---
    "j12_node_classify" -> ((s, d) => {
      import s.implicits._
      val cnt = Genomics.decodeCounts(
        Genomics.countCanonical(docSeqs(s, d), K), K)
      // oriented edge set (both strands), node = (k-1)-mer
      val edges = cnt.select(col("kmer"))
        .union(cnt.select(reverse(translate(col("kmer"), "ACGT", "TGCA")).as("kmer")))
        .distinct()
        .select(substring(col("kmer"), 1, K - 1).as("src"),
          substring(col("kmer"), 2, K - 1).as("dst"))
      val outDeg = edges.groupBy(col("src").as("node")).agg(count(lit(1)).as("outd"))
      val inDeg = edges.groupBy(col("dst").as("node")).agg(count(lit(1)).as("ind"))
      outDeg.join(inDeg, Seq("node"), "full_outer")
        .select(col("node"),
          coalesce(col("outd"), lit(0)).as("outd"),
          coalesce(col("ind"), lit(0)).as("ind"),
          when(coalesce(col("outd"), lit(0)) <= 1 && coalesce(col("ind"), lit(0)) <= 1, "simple")
            .when(coalesce(col("outd"), lit(0)) > 1 && coalesce(col("ind"), lit(0)) > 1, "repeat")
            .when(coalesce(col("outd"), lit(0)) > 1, "branch")
            .otherwise("merge").as("klass"))
    }),

    // -- J11: low-coverage fragment path — gaps between solid anchors ------
    "j11_low_cov_fragments" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      val pk = documents(s, d)
        .select(col("doc_id"), Genomics.dna32(col("doc_id")).as("s"))
        .select(col("doc_id"), col("s"),
          explode(sequence(lit(1), length(col("s")) - (K - 1))).as("i"))
        .selectExpr("doc_id", "s", "i", s"canonical_kmer(substring(s, i, $K)) AS kmer")
      val solid = pk.groupBy("kmer").agg(count(lit(1)).as("c"))
        .filter(col("c") >= 2).select(col("kmer"), lit(1).as("is_solid"))
      val byRead = Window.partitionBy("doc_id").orderBy("i")
      val fl = pk.join(solid, Seq("kmer"), "left")
        .withColumn("sf", coalesce(col("is_solid"), lit(0)))
        .withColumn("prev_solid",
          max(when(col("sf") === 1, col("i"))).over(
            byRead.rowsBetween(Window.unboundedPreceding, -1)))
        .withColumn("next_solid",
          min(when(col("sf") === 1, col("i"))).over(
            byRead.rowsBetween(1, Window.unboundedFollowing)))
      fl.filter(col("sf") === 0 &&
          col("prev_solid").isNotNull && col("next_solid").isNotNull)
        .groupBy(col("doc_id"), col("prev_solid"), col("next_solid"), col("s"))
        .agg(count(lit(1)).as("gap_kmers"))
        // the bridging fragment spans solid anchor to solid anchor
        .select(col("doc_id"), col("prev_solid"), col("next_solid"), col("gap_kmers"),
          expr(s"substring(s, prev_solid, next_solid - prev_solid + $K)").as("fragment"))
    })
  )

  private def docSeqs(s: SparkSession, d: String) = {
    import s.implicits._
    documents(s, d).select(Genomics.dna32(col("doc_id")).cast("string")).as[String]
  }

  def oracles: Map[String, String] = Map(
    "j12_node_classify" ->
      s"""WITH seq AS (SELECT $sqlDna32 AS s FROM documents),
         |cnt AS (SELECT DISTINCT ${sqlCanon(s"substr(s, i, $K)")} AS kmer
         |        FROM (SELECT s, unnest(generate_series(1, length(s) - ${K - 1})) AS i FROM seq)),
         |edges AS (
         |  SELECT DISTINCT substr(kmer, 1, ${K - 1}) AS src, substr(kmer, 2, ${K - 1}) AS dst
         |  FROM (SELECT kmer FROM cnt
         |        UNION SELECT reverse(translate(kmer, 'ACGT', 'TGCA')) FROM cnt)),
         |od AS (SELECT src AS node, COUNT(*) AS outd FROM edges GROUP BY src),
         |id AS (SELECT dst AS node, COUNT(*) AS ind FROM edges GROUP BY dst)
         |SELECT COALESCE(od.node, id.node) AS node,
         |  COALESCE(outd, 0) AS outd, COALESCE(ind, 0) AS ind,
         |  CASE WHEN COALESCE(outd, 0) <= 1 AND COALESCE(ind, 0) <= 1 THEN 'simple'
         |       WHEN COALESCE(outd, 0) > 1 AND COALESCE(ind, 0) > 1 THEN 'repeat'
         |       WHEN COALESCE(outd, 0) > 1 THEN 'branch'
         |       ELSE 'merge' END AS klass
         |FROM od FULL OUTER JOIN id ON od.node = id.node""".stripMargin,
    "j11_low_cov_fragments" ->
      s"""WITH pk AS (
         |  SELECT doc_id, s, i, ${sqlCanon(s"substr(s, i, $K)")} AS kmer
         |  FROM (SELECT doc_id, s, unnest(generate_series(1, length(s) - ${K - 1})) AS i
         |        FROM (SELECT doc_id, $sqlDna32 AS s FROM documents))),
         |solid AS (SELECT kmer FROM pk GROUP BY kmer HAVING COUNT(*) >= 2),
         |fl AS (
         |  SELECT p.doc_id, p.s, p.i,
         |    CASE WHEN t.kmer IS NULL THEN 0 ELSE 1 END AS sf
         |  FROM pk p LEFT JOIN solid t ON p.kmer = t.kmer),
         |mk AS (
         |  SELECT doc_id, s, i, sf,
         |    MAX(CASE WHEN sf = 1 THEN i END) OVER (PARTITION BY doc_id ORDER BY i
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_solid,
         |    MIN(CASE WHEN sf = 1 THEN i END) OVER (PARTITION BY doc_id ORDER BY i
         |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_solid
         |  FROM fl)
         |SELECT doc_id, prev_solid, next_solid, COUNT(*) AS gap_kmers,
         |  substr(s, prev_solid, next_solid - prev_solid + $K) AS fragment
         |FROM mk
         |WHERE sf = 0 AND prev_solid IS NOT NULL AND next_solid IS NOT NULL
         |GROUP BY doc_id, prev_solid, next_solid, s""".stripMargin
  )
}
