package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.core.Counters

/** Hash-to-min connected components: exactness on adversarial topologies
  * and the logarithmic round bound that motivates it (a diameter-bound
  * label propagation would need one round per link on the chain). */
class GraphOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Runs BOTH execution paths (the self-gated single-task union-find
    * and the distributed hash-to-min rounds, forced by a zero gate) plus,
    * when `gate` is given, a union-find task that overflows at that
    * threshold and falls back; asserts they all agree before returning
    * the labels. */
  private def cc(edges: Seq[(Long, Long)], maxRounds: Int = 50,
                 gate: Option[Long] = None): Map[Long, Long] = {
    import spark.implicits._
    def run(t: Long) = {
      val rows = GraphOps.connectedComponents(edges.toDF("x", "y"), maxRounds,
          localThreshold = t)
        .collect().map(r => r.getLong(0) -> r.getLong(1))
      assert(rows.length == rows.toMap.size, s"duplicate node rows at gate $t")
      rows.toMap
    }
    val local = run(5000000L)
    val dist = run(0L)
    assert(local == dist, "local union-find and distributed hash-to-min disagree")
    gate.foreach(t => assert(run(t) == local, s"overflow at gate $t disagrees"))
    local
  }

  /** `body`'s result and the rounds it adds to `fixpoint.<name>.rounds`. */
  private def rounds[T](name: String)(body: => T): (T, Long) = {
    val before = Counters.snapshot
    val r = body
    (r, Counters.diff(before, Counters.snapshot).getOrElse(s"fixpoint.$name.rounds", 0L))
  }

  test("300-node chain collapses to one component within the log-round budget") {
    val chain = (0L until 299L).map(i => (i, i + 1))
    // hash-to-min needs at most 2 + ceil(log2(300)) = 11 rounds; label
    // propagation would need ~299.
    val (labels, n) = rounds("cc")(cc(chain, maxRounds = 15))
    assert(n >= 1 && n <= 11, s"$n rounds")
    assert(labels.size == 300)
    assert(labels.values.forall(_ == 0L))
  }

  test("cycle, star, and separated components get exact minimum labels") {
    val cycle = (10L until 20L).map(i => (i, if (i == 19) 10L else i + 1))
    val star = (101L to 105L).map(i => (100L, i))
    val pair = Seq((1000L, 2000L))
    val labels = cc(cycle ++ star ++ pair)
    (10L until 20L).foreach(i => assert(labels(i) == 10L))
    (100L to 105L).foreach(i => assert(labels(i) == 100L))
    assert(labels(1000L) == 1000L && labels(2000L) == 1000L)
  }

  test("edge direction does not matter and duplicate edges are harmless") {
    // gate 5 overflows on the reversed second row
    val labels = cc(Seq((5L, 3L), (3L, 5L), (5L, 3L), (3L, 3L), (7L, 5L), (30L, 31L),
      (31L, 30L)), gate = Some(5L))
    assert(labels == Map(3L -> 3L, 5L -> 3L, 7L -> 3L, 30L -> 30L, 31L -> 30L))
  }

  test("union-find overflowing mid-stream falls back to the same labels") {
    // 12-node chain: n + 2r' reaches 34 at its end, so a gate of 10 trips
    // a few rows in, after the task has already merged some nodes
    val chain = (0L until 11L).map(i => (i, i + 1))
    val labels = cc(chain ++ Seq((50L, 51L), (52L, 51L)), gate = Some(10L))
    (0L to 11L).foreach(i => assert(labels(i) == 0L))
    assert(labels(51L) == 50L && labels(52L) == 50L)
    // the gate is inclusive: a path of 3 nodes has n + 2r' = 3 + 2*2 = 7,
    // so 7 runs the task alone and 6 falls back to the rounds
    import spark.implicits._
    val path = Seq((1L, 2L), (2L, 3L)).toDF("x", "y")
    def stages(t: Long) = TestSpark.stagesOf(
      GraphOps.connectedComponents(path, localThreshold = t))._2.size
    assert(stages(7L) == 1)
    assert(stages(6L) > 1)
    assert(cc(Seq((1L, 2L), (2L, 3L)), gate = Some(6L)) ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("empty and self-loop-only edge sets") {
    assert(cc(Nil, gate = Some(1L)).isEmpty)
    // repeated self-loops: one node each, its own component
    assert(cc(Seq((5L, 5L), (7L, 7L), (5L, 5L)), gate = Some(1L)) ==
      Map(5L -> 5L, 7L -> 7L))
  }

  test("ids at the ends of the Long range, including an edge between them") {
    // the overflow marker is (Long.MinValue, Long.MaxValue); a real row
    // always has component <= node, so the extreme edge cannot mimic it
    val lo = Long.MinValue; val hi = Long.MaxValue
    val edges = Seq((lo + 1, lo), (hi, hi - 1), (hi - 2, hi - 1), (lo, hi), (0L, -1L))
    assert(cc(edges, gate = Some(4L)) == Map(lo -> lo, lo + 1 -> lo, hi -> lo,
      hi - 1 -> lo, hi - 2 -> lo, 0L -> -1L, -1L -> -1L))
  }

  test("default gate: one single-task stage runs the union-find, no fingerprint job") {
    import spark.implicits._
    val edges = ((0L until 40L).map(i => (i, i + 1)) :+ ((100L, 101L))).toDF("x", "y")
    // the gate's head(1) is the only job: one stage, one task, so no
    // symmetrize/distinct checkpoint and no fingerprint aggregate runs
    val (comp, stages) = TestSpark.stagesOf(GraphOps.connectedComponents(edges))
    assert(stages.map(_.numTasks) == Seq(1), stages.map(s => (s.name, s.numTasks)))
    // every consumer reads the checkpoint: the union-find never re-runs
    val plan = comp.queryExecution.executedPlan.toString
    assert(!plan.contains("MapPartitions"), plan)
    assert(comp.count() == 43L && comp.filter("component = 0").count() == 41L)
    // the forced distributed path checkpoints and fingerprints first
    val (_, dist) = TestSpark.stagesOf(GraphOps.connectedComponents(edges,
      localThreshold = 0L))
    assert(dist.size > 3, dist.map(_.name))
  }

  private def tri(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    GraphOps.triangleCounts(edges.toDF("x", "y"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("triangle counts: K4, star, path, and a hub with one closed wedge") {
    // K4: every vertex sits in C(3,2) = 3 triangles
    val k4 = for (a <- 0L to 3L; b <- (a + 1) to 3L) yield (a, b)
    assert(tri(k4) == Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L))
    // star and path are triangle-free -> empty output
    assert(tri((1L to 5L).map(i => (0L, i))).isEmpty)
    assert(tri((0L until 5L).map(i => (i, i + 1))).isEmpty)
    // high-degree hub with exactly ONE closed wedge: the degree-ordered
    // orientation must count it once (at the triangle's lowest-degree
    // vertex) and credit all three corners
    val hub = (1L to 20L).map(i => (0L, i)) :+ (1L, 2L)
    assert(tri(hub) == Map(0L -> 1L, 1L -> 1L, 2L -> 1L))
  }

  test("triangle counts: overlapping triangles share edges correctly") {
    // two triangles glued on edge (1,2): nodes 1,2 in two, nodes 3,4 in one
    val glued = Seq((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L), (2L, 4L))
    assert(tri(glued) == Map(1L -> 2L, 2L -> 2L, 3L -> 1L, 4L -> 1L))
  }

  private def core(edges: Seq[(Long, Long)], k: Int): Map[Long, Long] = {
    import spark.implicits._
    GraphOps.kcore(edges.toDF("x", "y"), k)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("k-core: K4 with a pendant keeps exactly the K4") {
    val k4 = for (a <- 0L to 3L; b <- (a + 1) to 3L) yield (a, b)
    val g = k4 :+ (3L, 10L) // pendant hangs off node 3
    assert(core(g, 3) == Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L))
    // the pendant survives k=1 (everything does) with its degree
    assert(core(g, 1)(10L) == 1L)
  }

  test("k-core: cascading peel dissolves a path but keeps a cycle (k=2)") {
    // path: endpoints peel, exposing new endpoints — 15 rounds of real
    // iteration until nothing is left (the slow-peeling regime)
    val path = (0L until 30L).map(i => (i, i + 1))
    val (peeled, pathRounds) = rounds("kcore")(core(path, 2))
    assert(peeled.isEmpty)
    assert(pathRounds == 15L)
    // cycle: every node has degree exactly 2 — stable after one round
    val cyc = (0L until 12L).map(i => (i, (i + 1) % 12))
    val (kept, cycRounds) = rounds("kcore")(core(cyc, 2))
    assert(kept == (0L until 12L).map(_ -> 2L).toMap)
    assert(cycRounds == 1L)
  }

  test("k-core: triangle glued to K4 peels off at k=3") {
    val k4 = for (a <- 0L to 3L; b <- (a + 1) to 3L) yield (a, b)
    // triangle (3, 20, 21) shares node 3 with the K4: nodes 20/21 have
    // degree 2, peel at k=3, and node 3's degree drops back to 3
    val g = k4 ++ Seq((3L, 20L), (3L, 21L), (20L, 21L))
    assert(core(g, 3) == Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L))
    // at k=2 the whole glued structure survives with its full degrees
    val c2 = core(g, 2)
    assert(c2(3L) == 5L && c2(20L) == 2L && c2(21L) == 2L && c2(0L) == 3L)
  }

  test("k-core: duplicate and reversed edges do not inflate degrees") {
    val tri = Seq((1L, 2L), (2L, 1L), (1L, 2L), (2L, 3L), (3L, 1L))
    assert(core(tri, 2) == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
  }

  private def truss(edges: Seq[(Long, Long)], k: Int): Map[(Long, Long), Long] = {
    import spark.implicits._
    GraphOps.ktruss(edges.toDF("x", "y"), k)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
  }

  test("3-truss: keeps K4 and a pendant triangle, peels bridges and tails") {
    // K4 (edges support 2) + triangle (3,4,5) sharing node 3 (support 1)
    // + tail edge (5,6) with no triangle -> peeled
    val k4 = for (a <- 0L to 3L; b <- (a + 1) to 3L) yield (a, b)
    val g = k4 ++ Seq((3L, 4L), (3L, 5L), (4L, 5L), (5L, 6L))
    val t = truss(g, 3)
    assert(t == Map((0L, 1L) -> 2L, (0L, 2L) -> 2L, (0L, 3L) -> 2L,
      (1L, 2L) -> 2L, (1L, 3L) -> 2L, (2L, 3L) -> 2L,
      (3L, 4L) -> 1L, (3L, 5L) -> 1L, (4L, 5L) -> 1L))
  }

  test("3-truss: cascading peel — removing one edge's support dissolves a chain of triangles") {
    // triangle strip 0-1-2, 1-2-3, 2-3-4: edges (1,2) and (2,3) have
    // support 2, others 1. Removing nothing keeps all; but a strip with a
    // dangling last triangle whose outer edge is cut peels step by step.
    val strip = Seq((0L, 1L), (0L, 2L), (1L, 2L), (1L, 3L), (2L, 3L),
      (2L, 4L), (3L, 4L))
    val t3 = truss(strip, 3)
    assert(t3.keySet == strip.toSet) // every edge closes >= 1 triangle
    // 4-truss (support >= 2): only the shared middle edges have support 2,
    // but their triangles use support-1 edges — everything cascades away
    assert(truss(strip, 4).isEmpty)
  }

  private def bfs(edges: Seq[(Long, Long)], seeds: Set[Long],
                  maxHops: Int): Map[Long, Long] = {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    GraphOps.bfsHops(edges.toDF("x", "y"),
        col("node").isin(seeds.toSeq: _*), maxHops)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("bfs: path graph distances from one end, hop cap truncates the tail") {
    // 1-2-3-4-5-6-7, seed 1, cap 4: node 6 is 5 hops -> absent
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (6L, 7L))
    val (capped, hops) = rounds("bfs_hops")(bfs(path, Set(1L), 4))
    assert(capped ==
      Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L, 5L -> 4L))
    assert(hops == 4L)
    // unlimited-enough cap reaches the whole path
    assert(bfs(path, Set(1L), 10)(7L) == 6L)
  }

  test("bfs: multiple seeds take the MIN distance; unreached component absent") {
    // chain 1-2-3-4-5 with seeds at both ends, plus a disjoint edge 10-11
    val g = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
    val d = bfs(g, Set(1L, 5L), 4)
    assert(d == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 1L, 5L -> 0L))
    assert(!d.contains(10L) && !d.contains(11L))
  }

  test("bfs: cycle settles each node once at its first hop (no revisits)") {
    // 4-cycle seeded at 1: opposite corner is 2 via either arc
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))
    assert(bfs(cyc, Set(1L), 4) ==
      Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 1L))
  }

  test("3-truss: K5 survives 5-truss-level support; 4-truss of K4+tail is K4") {
    val k5 = for (a <- 0L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val t = truss(k5, 5) // support >= 3: K5 edges have exactly 3
    assert(t.size == 10 && t.values.forall(_ == 3L))
    val k4 = (for (a <- 0L to 3L; b <- (a + 1) to 3L) yield (a, b)) :+ (0L, 9L)
    val t4 = truss(k4, 4)
    assert(t4.size == 6 && t4.values.forall(_ == 2L))
  }

  test("modularity: zero-internal-edge community lands on +0.0, never -0.0") {
    // the g21 seam: a community with m_in = 0 has Q term
    // 0 - (deg/2m)^2 < 0, and with m large enough the 6-decimal rounding
    // yields NEGATIVE ZERO — which DuckDB prints as -0.0 and Spark's
    // normalization must fold to +0.0 or every hash compare breaks.
    // Shape: 1-10, 5-10 (node 5 labels itself: 5 < its only neighbor 10;
    // 10 labels 1; so community {5} has one cross edge and no internal
    // ones) plus 1500 disjoint filler edges to push (1/2m)^2 below the
    // rounding threshold.
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val filler = (0 until 1500).map(i => (1000L + 2 * i, 1001L + 2 * i))
    val pairs = (Seq((1L, 10L), (5L, 10L)) ++ filler).toDF("x", "y")
    val rows = GraphOps.modularityCommunities(pairs)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    val (nNodes, mIn, degSum, q) = rows(5L)
    assert((nNodes, mIn, degSum) == ((1L, 0L, 1L)),
      s"crafted community shape drifted: ${rows(5L)}")
    // the unrounded term is genuinely negative...
    assert(-math.pow(degSum.toDouble / (2.0 * 1502), 2) < 0)
    // ...and rounds to zero — which must be POSITIVE zero bit-for-bit
    assert(q == 0.0)
    assert(java.lang.Double.doubleToRawLongBits(q) == 0L,
      "q_contrib is -0.0: the +0.0 normalization regressed")
  }
}
