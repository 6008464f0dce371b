package graft.operators

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** KMeans.lloyd + Similarity.semDedup — the semantic-dedup pair. */
class SemanticSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  /** Three well-separated directions in 4-dim space, 5 points each with a
    * deterministic wobble on an off-axis dimension big enough that
    * intra-blob cosines stay BELOW 0.999 (w=0.1..0.5 → max intra-blob
    * cosine ≈ 0.9952) while cosine to the home axis stays > 0.89 and
    * cross-blob cosine stays < 0.2 — only EXACT copies sit above the
    * dedup threshold. */
  private def blobs = (0 until 15).map { i =>
    val axis = i % 3
    val base = Array.fill(4)(0.0)
    base(axis) = 1.0
    base(3) = 0.1 * (i / 3 + 1) // wobble, never dominant
    (i.toLong, base)
  }

  test("lloyd recovers well-separated blobs and assigns stable cells") {
    val vs = blobs.toDF("vec_id", "v")
    val cents = KMeans.lloyd(vs, k = 3, iters = 3)
    val got = cents.select("cid", "cv").as[(Long, Array[Double])].collect()
    assert(got.length == 3)
    // each centroid should be dominated by exactly one of the three axes,
    // and all three axes should be covered
    val domAxes = got.map { case (_, cv) => cv.zipWithIndex.maxBy(_._1)._2 }
    assert(domAxes.toSet == Set(0, 1, 2))
  }

  test("semDedup drops exact copies, keeps one representative per group") {
    val base = blobs.toDF("vec_id", "v")
    val copies = blobs.map { case (id, v) => (id + 100, v) }.toDF("vec_id", "v")
    val aug = base.union(copies)
    val cents = base.filter(col("vec_id") < 3)
      .select(col("vec_id").as("cid"), col("v").as("cv"))
    val kept = Similarity.semDedup(aug, cents, 0.999)
      .select("vec_id").as[Long].collect().toSet
    // every copy has its original (smaller id, identical vector, same
    // cell) — all 15 copies must drop, all 15 originals must survive
    assert(kept == (0L until 15L).toSet)
  }

  test("lloyd survives k > distinct points: empty cells drop, no crash") {
    import org.apache.spark.sql.functions.col
    val vs = Seq(
      (0L, Array(1.0, 0.0)),
      (1L, Array(1.0, 0.0)), // duplicate direction
      (2L, Array(0.0, 1.0))).toDF("vec_id", "v")
    val cents = KMeans.lloyd(vs, k = 3, iters = 2)
    val got = cents.select(col("cid")).as[Long].collect().toSet
    // seeds 0 and 1 are identical vectors: every point prefers the lower
    // cid on ties, so cell 1 empties and its centroid drops
    assert(got == Set(0L, 2L))
  }

  test("semDedup below-threshold neighbors both survive") {
    // two vectors at ~45 degrees: cosine ~0.707 < 0.999 — no drop
    val vs = Seq(
      (0L, Array(1.0, 0.0)),
      (1L, Array(1.0, 1.0))).toDF("vec_id", "v")
    val cents = Seq((0L, Array(1.0, 0.0))).toDF("cid", "cv")
    val kept = Similarity.semDedup(vs, cents, 0.999)
      .select("vec_id").as[Long].collect().toSet
    assert(kept == Set(0L, 1L))
  }

  test("s10 PQ: codebook vectors reconstruct exactly — ADC scores an exact copy at 1.0") {
    // vec_id < 16 vectors ARE the codebook, so their sub-vectors quantize
    // to themselves and the reconstruction is bit-exact; an exact copy of
    // vec 0 (vec_id 16) must therefore rank 1 for query 0 with rounded
    // ADC cosine exactly 1.0.
    val rnd = new scala.util.Random(401L)
    def randVec() = Array.fill(64)(rnd.nextFloat() * 2 - 1)
    val base = (0 until 16).map(i => (i.toLong, randVec()))
    val rows = base ++ Seq((16L, base(0)._2)) ++
      (17 until 40).map(i => (i.toLong, randVec()))
    val dir = java.nio.file.Files.createTempDirectory("graft_pq").toString
    rows.toDF("vec_id", "embedding").withColumn("label", lit("x"))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = Similarity.queries("s10_pq_adc")(spark, dir)
      .filter(col("q_id") === 0L).orderBy("rnk")
      .select("neighbor", "score").as[(Long, Double)].collect()
    assert(got.length == 3)
    assert(got.head == ((16L, 1.0)), s"expected exact-copy rank 1, got ${got.toSeq}")
  }

  test("s15: multi-index Hamming is COMPLETE vs brute force at radius 3") {
    // the pigeonhole claim on real data: every pair the bank equi-join
    // emits at ham <= 3 must equal the all-pairs brute-force set over the
    // same augmented corpus (planted sign-flips included). Brute force is
    // test-only — 1000 vectors -> ~500k pairs, fine here, quadratic at
    // scale (which is the point of the banks).
    val sf = "/root/testdata/sf0.001"
    graft.functions.GraftFunctions.register(spark)
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val off = emb.agg(greatest(max(col("vec_id")) + 1, lit(10000L)))
      .first().getLong(0)
    val aug = emb.unionByName(emb.select((col("vec_id") + off).as("vec_id"),
      concat(transform(slice(col("embedding"), 1, 3), x => -x),
        slice(col("embedding"), 4, 61)).as("embedding")))
    val coded = aug.select(col("vec_id"),
      call_function("sign_pack", col("embedding")).as("code")).localCheckpoint()
    val r = coded.select(col("vec_id").as("b"), col("code").as("code2"))
    val brute = coded.join(r, col("vec_id") < col("b"))
      .withColumn("ham", bit_count(col("code").bitwiseXOR(col("code2"))).cast("long"))
      .filter(col("ham") <= 3)
      .select(col("vec_id").as("a"), col("b"), col("ham"))
      .collect().map(_.toString).toSet
    val banked = graft.SparkEntry.queries("s15_hamming_ann")(spark, sf)
      .collect().map(_.toString).toSet
    assert(banked == brute,
      s"bank join missed ${(brute -- banked).size} / invented ${(banked -- brute).size} pairs")
    assert(brute.size >= emb.count(),
      "planted sign-flip near-dups did not survive to the flagged set")
  }

  test("s15 pairing: a hot 16-bit bank split at cap 8 == brute force") {
    import spark.implicits._
    val rnd = new scala.util.Random(149L)
    // 40 codes share bank 0 (low 16 bits 0x8ABC, the bank's top bit set);
    // their high 48 bits come in runs of 10 with 0..2 bits flipped, so
    // the bucket holds near pairs and far ones; plus 60 random codes
    val high = Array.fill(4)(rnd.nextLong() & ~0xFFFFL)
    val hot = (0 until 40).map(n => (1000L + n, high(n / 10) ^ ((n % 3).toLong << 20) | 0x8ABCL))
    val bg = (0 until 60).map(n => (2000L + n, rnd.nextLong()))
    val codes = hot ++ bg
    val brute = (for {
      (a, x) <- codes
      (b, y) <- codes if a < b
      h = java.lang.Long.bitCount(x ^ y) if h <= 3
    } yield (a, b, h.toLong)).toSet
    assert(brute.size > 40)
    val got = Dedup.hammingPairs(codes.toDF("id", "code"), 16, 8)
      .as[(Long, Long, Long)].collect()
    assert(got.length == got.distinct.length)
    assert(got.toSet == brute)
  }

  test("s17 MIPS reduction invariants: constant augmented norm, IP order kept") {
    // the Bachrach et al. transform's two load-bearing properties, on the
    // real corpus: (1) every augmented data vector has norm M (so any
    // cosine index treats the corpus as a sphere), (2) augmented-cosine
    // descending order == raw-inner-product descending order per query.
    val sf = "/root/testdata/sf0.001"
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0),
        r.getSeq[Float](1).map(_.toDouble).toArray))
    def dot(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => x * y }.sum
    val m2 = emb.map { case (_, v) => dot(v, v) }.max
    // (1) augmentation puts every vector exactly on the radius-M sphere
    emb.foreach { case (id, v) =>
      val s = math.sqrt(m2 - dot(v, v))
      val augN2 = dot(v, v) + s * s
      assert(math.abs(augN2 - m2) <= 1e-9 * m2, s"vec $id off-sphere: $augN2 != $m2")
    }
    // (2) per query: cosine-over-augmented ranking == raw-IP ranking
    val queries = emb.filter { case (id, _) => id % 50 == 0 && id < 5000 }
    assert(queries.nonEmpty)
    queries.take(20).foreach { case (qid, qv) =>
      val others = emb.filter(_._1 != qid)
      val byIp = others.sortBy { case (id, v) => (-dot(qv, v), id) }.map(_._1)
      val m = math.sqrt(m2)
      val qn = math.sqrt(dot(qv, qv))
      val byCos = others.sortBy { case (id, v) =>
        (-(dot(qv, v) / (qn * m)), id) }.map(_._1)
      assert(byIp.take(20).toSeq == byCos.take(20).toSeq, s"query $qid order diverged")
    }
    // and the gated query's top-1 agrees with the brute IP argmax
    val got = graft.SparkEntry.queries("s17_mips")(spark, sf)
      .filter(col("rnk") === 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    queries.foreach { case (qid, qv) =>
      val best = emb.filter(_._1 != qid)
        .maxBy { case (id, v) => (dot(qv, v), -id) }._1
      assert(got(qid) == best, s"query $qid top-1 ${got(qid)} != $best")
    }
  }
}
