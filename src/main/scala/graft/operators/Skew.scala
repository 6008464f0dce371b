package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, KeyValueGroupedDataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

/** Skew mitigation utilities. AQE's skew-join handles most cases at
  * runtime; explicit salting remains the tool when one key dominates so
  * badly that even split shuffle blocks overwhelm a task, or when the
  * skewed side feeds a non-AQE-eligible operator.
  *
  * [[bucketPairs]] is the one way the engine enumerates "pairs that share
  * a bucket" (LSH band buckets, simhash and multi-index Hamming banks).
  * Its bound: no task enumerates the pairs of more than 2·cap members of
  * one bucket, however many members the bucket has — a bucket of n > cap
  * members becomes ⌈n/cap⌉ blocks of at most cap, and each block pair is
  * its own group. The work of a hot bucket spreads over its block-pair
  * groups instead of landing on one straggler task (the rule Distributed
  * Subgraph Counting and REPOSE apply to heavy keys).
  */
object Skew {

  /** Bucket size above which [[bucketPairs]] splits a bucket into blocks. */
  private[operators] val BucketCap = 4096

  /** A bucket member: its id and the payload the pair test reads. */
  private[operators] final case class Member(id: Long, p: Long)

  /** Member `(id, p)` of block `blk` of an oversized bucket, sent to the
    * block-pair group (i, j), i <= j, blk ∈ {i, j}. */
  private[operators] final case class Blocked(i: Int, j: Int, blk: Int, id: Long, p: Long)

  /** Salted inner equi-join: the big side gets a deterministic per-row
    * salt in [0, r), the small side is replicated r times, and the join
    * key becomes (key, salt) — a hot key's rows spread over r tasks.
    * Result rows are identical to a plain inner join on `key`. */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String, r: Int): DataFrame = {
    require(r > 0)
    val bigCols = big.columns.map(col)
    val saltedBig = big.withColumn("_salt",
      pmod(xxhash64(bigCols.toIndexedSeq: _*), lit(r)).cast("int"))
    val replicatedSmall = small.withColumn("_salt",
      explode(sequence(lit(0), lit(r - 1))))
    saltedBig.join(replicatedSmall, Seq(key, "_salt")).drop("_salt")
  }

  /** Two-phase (salted) aggregation: pre-aggregate on (key, salt), then
    * final-aggregate on key. For algebraic aggregates this is what
    * partial aggregation already does; exposed for the cases where an
    * explicit intermediate (e.g. before a window) is wanted. */
  def twoPhaseCount(df: DataFrame, key: String, r: Int): DataFrame = {
    val salted = df.withColumn("_salt",
      pmod(xxhash64(df.columns.toIndexedSeq.map(col): _*), lit(r)).cast("int"))
    salted.groupBy(col(key), col("_salt")).agg(count(lit(1)).as("_partial"))
      .groupBy(col(key)).agg(sum(col("_partial")).as("n"))
  }

  /** The distinct pairs `(a, b, pa, pb)`, a < b, of rows that share a
    * bucket and pass `near(pa, pb)`; `pa`/`pb` are the payloads of `a`/`b`.
    * Each row of `rows` is one bucket membership: `bucket` (any non-null
    * value; a struct of the caller's bucket columns when there are
    * several), `id` (long) and `payload` (long). A row id may sit in many
    * buckets; the distinct folds the pair's repeats. An id must carry one
    * payload, or a pair repeats once per payload combination.
    *
    * One bucket exchange, read twice (the second read reuses the
    * shuffle), and the input subtree runs once. A bucket of at most `cap`
    * members emits its pairs in place. A larger one sorts its members by
    * (id, payload), cuts them into m = ⌈n/cap⌉ blocks of at most cap, and
    * sends each member to the m block-pair groups of its block; a second
    * exchange groups them by (bucket, i, j) — the caller's own bucket
    * value, never a hash or a packing of it, so two hot buckets never
    * share a group — and each group, holding at most 2·cap members,
    * enumerates the pairs across blocks i and j (within block i when
    * i == j). Without a hot bucket that exchange carries no rows. The
    * pairs of both meet in the distinct. */
  private[operators] def bucketPairs(rows: DataFrame, bucket: Column, id: Column,
                                     payload: Column, cap: Int = BucketCap)
                                    (near: (Long, Long) => Boolean): DataFrame = {
    val spark = rows.sparkSession
    import spark.implicits._
    val (kField, buckets) = bucketed(rows, bucket, id, payload)
    val small = buckets.flatMapGroups { (_: Row, it: Iterator[Member]) =>
      val ms = it.toArray
      if (ms.length <= cap) pairs(ms, near)((_, _) => true) else Iterator.empty
    }
    val key = Seq("k", "i", "j")
    val blocked = blocks(buckets, kField, cap)
    val large = blocked.groupBy(key.map(col): _*)
      .as[Row, Blocked](Encoders.row(StructType(key.map(blocked.schema(_)))), implicitly)
      .flatMapGroups { (_: Row, it: Iterator[Blocked]) =>
        val ms = it.toArray
        // within block i when i == j, else only across blocks i and j
        pairs(ms.map(b => Member(b.id, b.p)), near)((x, y) =>
          ms(x).i == ms(x).j || ms(x).blk != ms(y).blk)
      }
    small.union(large).toDF("a", "b", "pa", "pb").distinct()
  }

  /** The block-pair group rows `(k, i, j, blk, id, p)` of [[bucketPairs]]'s
    * oversized buckets (k: the bucket; the rest as in [[Blocked]]). */
  private[operators] def bucketGroups(rows: DataFrame, bucket: Column, id: Column,
                                      payload: Column, cap: Int): DataFrame = {
    val (kField, buckets) = bucketed(rows, bucket, id, payload)
    blocks(buckets, kField, cap)
  }

  private def bucketed(rows: DataFrame, bucket: Column, id: Column, payload: Column)
      : (StructField, KeyValueGroupedDataset[Row, Member]) = {
    import rows.sparkSession.implicits._
    val in = rows.select(bucket.as("k"), id.cast("long").as("id"),
      payload.cast("long").as("p"))
    (in.schema("k"),
      in.groupBy(col("k")).as[Row, Member](Encoders.row(StructType(Seq(in.schema("k")))), implicitly))
  }

  private def blocks(buckets: KeyValueGroupedDataset[Row, Member], kField: StructField,
                     cap: Int): DataFrame = {
    require(cap > 0, s"bucket cap must be positive, got $cap")
    val out = Encoders.row(StructType(kField +: Encoders.product[Blocked].schema.fields))
    buckets.flatMapGroups { (key: Row, it: Iterator[Member]) =>
      val ms = it.toArray
      if (ms.length <= cap) Iterator.empty
      else {
        val m = (ms.length + cap - 1) / cap
        ms.sortBy(x => (x.id, x.p)).iterator.zipWithIndex.flatMap { case (x, n) =>
          val c = n / cap
          (0 until m).iterator.map(o =>
            Row(key.get(0), math.min(o, c), math.max(o, c), c, x.id, x.p))
        }
      }
    }(out)
  }

  /** The pairs `(a < b, pa, pb)` of members `ms(x)`, `ms(y)`, x < y, with
    * distinct ids, that `keep(x, y)` selects and `near` passes. */
  private def pairs(ms: Array[Member], near: (Long, Long) => Boolean)
                   (keep: (Int, Int) => Boolean): Iterator[(Long, Long, Long, Long)] =
    for {
      x <- ms.indices.iterator
      y <- (x + 1 until ms.length).iterator
      if keep(x, y)
      (u, v) = (ms(x), ms(y))
      if u.id != v.id && near(u.p, v.p)
    } yield if (u.id < v.id) (u.id, v.id, u.p, v.p) else (v.id, u.id, v.p, u.p)
}
