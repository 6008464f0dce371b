package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** The skew-bounded bucket-pair primitive ([[Skew.bucketPairs]]). */
class SkewSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("bucketPairs: every block-pair group holds <= 2·cap members of one bucket " +
    "(two hot 16-bit buckets in one band)") {
    import spark.implicits._
    // three 40-member buckets: band 0 values 0x0ABC and 0x8ABC (they differ
    // only in the 16th bit) and band 1 value 0x0ABC — a bnd·2^57 | bv·2^42
    // packing maps (0, 0x8ABC) and (1, 0x0ABC) to one key
    val hot = Seq((0, 0x0ABCL), (0, 0x8ABCL), (1, 0x0ABCL)).zipWithIndex.flatMap {
      case ((band, v), b) => (0 until 40).map(n => (band, v, 1000L + 100 * b + n))
    }
    val singles = (0 until 20).map(n => (2, n.toLong, 5000L + n))
    val rows = (hot ++ singles).toDF("band", "v", "id")
    val bucket = struct(col("band"), col("v"))
    val cap = 8
    val groups = Skew.bucketGroups(rows, bucket, col("id"), col("id"), cap)
      .select(col("k"), col("i"), col("j"), col("id")).collect()
      .groupBy(r => (r.get(0), r.getInt(1), r.getInt(2)))
    val m = (40 + cap - 1) / cap
    assert(groups.size == 3 * m * (m + 1) / 2, groups.keys.mkString(" "))
    groups.foreach { case (g, members) =>
      assert(members.length <= 2 * cap, s"group $g holds ${members.length} members")
      assert(members.map(_.getLong(3) / 100).distinct.length == 1,
        s"group $g holds members of more than one bucket")
    }
    val brute = hot.groupBy(r => (r._1, r._2)).values
      .flatMap(ms => for (x <- ms; y <- ms if x._3 < y._3) yield (x._3, y._3)).toSet
    val got = Skew.bucketPairs(rows, bucket, col("id"), col("id"), cap)((_, _) => true)
      .select("a", "b").as[(Long, Long)].collect()
    assert(got.length == got.distinct.length)
    assert(got.toSet == brute)
  }
}
