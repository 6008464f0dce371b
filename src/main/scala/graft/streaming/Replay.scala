package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.attribute.FileTime
import java.nio.file.{Files, Paths, StandardCopyOption}

/** Ordered replay of testdata tables for proving the Structured Streaming
  * operators against the SAME DuckDB oracles as their batch twins (the
  * es* queries, run by [[ReplayRunner]]).
  *
  * The file streaming source delivers files oldest-modification-first, so
  * materializing a table as N range-bucketed parquet files with strictly
  * increasing mtimes + `maxFilesPerTrigger=1` replays it as N ordered
  * microbatches — the stateful operators (`flatMapGroupsWithState`
  * sessionization, `mapGroupsWithState` funnel, watermark dedup) then
  * cross real batch boundaries with real state-store round-trips, which is
  * where streaming bugs actually live (a single-batch replay would
  * exercise none of the incremental path).
  *
  * For Append-mode sessionization the final open session per user would
  * otherwise stay in state forever; a last `__flush` sentinel file (one
  * event per user, past every session gap) closes them. Sentinel-opened
  * sessions are never emitted (the stream ends), so the emitted set is
  * exactly the real sessions.
  *
  * Bucketed files are written once per (table, sfDir, variant) and cached
  * for the JVM lifetime (bench warm-up + retimes re-invoke the query
  * several times); they live under [[graft.Scratch]], whose shutdown hook
  * deletes them.
  */
object Replay {
  private val cache = scala.collection.concurrent.TrieMap[String, String]()

  /** Land `frames` in `dir` as one single-file parquet per frame
    * (`b00.parquet`, `b01.parquet`, …) with mtimes rising 2 s per file, so
    * a one-file-per-trigger stream ([[ReplayRunner.parquet]]) replays
    * frame i as micro-batch i. One task writes each file: a frame's row
    * order is its file's row order, and an empty frame lands as a valid
    * zero-row file. */
  def land(frames: Seq[DataFrame], dir: String): Unit = {
    val base = System.currentTimeMillis()
    frames.zipWithIndex.foreach { case (f, i) =>
      val tmp = s"$dir/_tmp_$i"
      f.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles().filter(p =>
        p.getName.startsWith("part-") && p.getName.endsWith(".parquet")).head
      val dst = Paths.get(dir, f"b$i%02d.parquet")
      Files.move(part.toPath, dst, StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(dst, FileTime.fromMillis(base + i * 2000L))
      graft.Scratch.delete(tmp)
    }
  }

  /** Build (once per JVM and `key`) the replay of `df`, which carries a
    * long ordering column `ord`: `buckets` ord ranges, then optionally a
    * final file built by `tail` from the max ord (given the bounds so
    * callers don't re-aggregate the table). Each bucket file is sorted by
    * ord — within-batch record order is replay order, which keeps
    * first-occurrence semantics deterministic — and carries only `cols`.
    * An empty source yields one empty bucket file (a valid zero-row
    * replay), not an NPE on the null bounds. */
  private def materialize(key: String, buckets: Int)(
      build: => (DataFrame, Seq[String], Option[Long => DataFrame])): String =
    synchronized {
      cache.get(key) match {
        case Some(d) if Files.exists(Paths.get(d, "_replay_done")) => d
        case _ =>
          val (df, cols, tail) = build
          // fast scratch volume (tmpfs when available), not java.io.tmpdir:
          // the bucketed fixture writes + mtime stamps are setup I/O
          val dir = graft.Scratch.fresh("replay").getPath
          val bounds = df.agg(min("ord"), max("ord")).first()
          val empty = bounds.isNullAt(0)
          val (lo0, hi0) = if (empty) (0L, 0L) else (bounds.getLong(0), bounds.getLong(1))
          val width = (hi0 - lo0) / buckets + 1
          val ranges = (0 until (if (empty) 1 else buckets)).map { i =>
            val lo = lo0 + i * width
            df.filter(col("ord") >= lo && col("ord") < lo + width)
              .repartition(1).sortWithinPartitions("ord")
              .select(cols.map(col): _*)
          }
          val flush = if (empty) None else tail.map(t => t(hi0).select(cols.map(col): _*))
          land(ranges ++ flush, dir)
          Files.createFile(Paths.get(dir, "_replay_done"))
          cache.put(key, dir)
          dir
      }
    }

  /** The events-table column order every replay file carries. */
  private val EventCols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")

  /** The e8/es17 session gap (30 min) — the bridge rule in
    * [[eventsDir]]'s deferred mode and SessionCoherenceSpec's replica
    * must agree on it. */
  val DeferGapUs: Long = 30L * 60 * 1000000

  /** Materialize (once per JVM) `sfDir`'s events as `buckets` time-ordered
    * parquet files; `sentinelGapMs >= 0` appends a final flush file with
    * one `__flush` event per user at max(ts) + gap + 2 ms. Returns the
    * directory to replay ([[ReplayRunner.parquet]]).
    *
    * `deferOutOfOrder = true` builds the ADVERSARIAL arrival order: the
    * deferred set — every event with `event_id % 5 == 2` (volume chaos)
    * PLUS every BRIDGE-shaped event relative to the remaining timeline (a
    * mid-session event whose kept neighbours sit more than one session
    * gap apart while each is within the gap of it) — is pushed past the
    * whole rest of the stream (ord shifted by the full time span + 1 h,
    * relative ts order preserved). Event TIMES are untouched — only
    * arrival order changes — so any order-independent fixpoint (es17b)
    * must still converge to the batch answer, but the session-window
    * state store now takes late events that land BETWEEN two
    * already-open windows and force real state merges; the bridge rule
    * is data-driven precisely because the testdata's sparse per-user
    * timelines make mod-sampling alone miss every such shape
    * (SessionCoherenceSpec recomputes the same rule and proves the
    * deferred set contains merging bridges). Incompatible with the
    * sentinel flush (the hand-rolled es2 sessionizer needs ordered
    * arrival). */
  def eventsDir(s: SparkSession, sfDir: String, buckets: Int = 4,
                sentinelGapMs: Long = -1L,
                deferOutOfOrder: Boolean = false): String = {
    require(!(deferOutOfOrder && sentinelGapMs >= 0),
      "deferred replay has no sentinel support")
    val key =
      s"events:${new java.io.File(sfDir).getCanonicalPath}:$buckets:" +
        s"$sentinelGapMs:$deferOutOfOrder"
    materialize(key, buckets) {
      // normalized read (handles the NANOS/NTZ testdata generations) —
      // replay files are Spark-written TimestampType, so the streaming
      // side never touches the schema-generation seam
      val base0 = graft.Tables.events(s, sfDir)
      val ev =
        if (!deferOutOfOrder) base0.withColumn("ord", unix_micros(col("ts")))
        else {
          val gapUs = DeferGapUs
          val withUs = base0.withColumn("us", unix_micros(col("ts")))
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy("user_id").orderBy(col("us"), col("event_id"))
          val bridges = withUs.filter(col("event_id") % 5 =!= 2)
            .withColumn("prev", lag(col("us"), 1).over(w))
            .withColumn("next", lead(col("us"), 1).over(w))
            .filter(col("prev").isNotNull && col("next").isNotNull &&
              col("next") - col("prev") > gapUs &&
              col("us") - col("prev") <= gapUs &&
              col("next") - col("us") <= gapUs)
            .select(col("event_id").as("beid"), lit(true).as("bridge"))
          val span = broadcast(base0.agg(
            (max(unix_micros(col("ts"))) - min(unix_micros(col("ts"))) +
              3600L * 1000000L).as("defer_span")))
          withUs.join(bridges, col("event_id") === col("beid"), "left")
            .crossJoin(span)
            .withColumn("ord", col("us") +
              when(col("event_id") % 5 === 2 ||
                coalesce(col("bridge"), lit(false)), col("defer_span"))
                .otherwise(lit(0L)))
            .drop("us", "beid", "bridge", "defer_span")
        }
      // the flush file is built from materialize's own max(ord), so the
      // events table is aggregated exactly once
      val tail =
        if (sentinelGapMs < 0) None
        else Some((hi: Long) => {
          val flushTs = timestamp_micros(lit(hi / 1000 * 1000 + (sentinelGapMs + 2) * 1000))
          ev.select("user_id").distinct()
            .select(lit(-1L).as("event_id"), flushTs.as("ts"), col("user_id"),
              lit("__flush").as("event_type"), lit(0.0).as("value"),
              lit(null).cast("string").as("props"))
        })
      (ev, EventCols, tail)
    }
  }

  /** Materialize the INCREMENTAL-ingestion stream for es16: the odd-id
    * half of the corpus (novel material) plus truncated near-dup copies
    * of every 10th even-id document — near-dups of the EVEN half, which
    * the query holds as its static LSH index. Copies are offset past the
    * live id range (the d-family GREATEST(MAX+1, 100000) convention) and
    * ordered AFTER all novel docs, so the gate classifies novel and
    * duplicate traffic in the same replay, with duplicates skewed toward
    * the tail. (Range bucketing over `ord` guarantees only the global
    * order — the boundary bucket may mix tail-end novels with early
    * dups in one microbatch. The gate is an order-independent
    * complete-mode aggregation, so this is a replay-shape note, not a
    * correctness condition; an order-sensitive consumer would need to
    * bucket novels and dups separately.) */
  def incrementalDocsDir(s: SparkSession, sfDir: String, buckets: Int = 4): String = {
    val key =
      s"documents_incr:${new java.io.File(sfDir).getCanonicalPath}:$buckets"
    materialize(key, buckets) {
      val docs = graft.Tables.documents(s, sfDir).select("doc_id", "text")
      val statsRow = docs.agg(max("doc_id"), count(lit(1))).first()
      val stream =
        if (statsRow.getLong(1) == 0L) docs.withColumn("ord", col("doc_id"))
        else {
          val hi = statsRow.getLong(0)
          val off = math.max(hi + 1, 100000L)
          val ws = split(col("text"), " ")
          val odd = docs.filter(col("doc_id") % 2 === 1)
            .withColumn("ord", col("doc_id"))
          val dups = docs
            .filter(col("doc_id") % 2 === 0 && col("doc_id") % 10 === 0)
            .select((col("doc_id") + off).as("doc_id"),
              concat_ws(" ",
                slice(ws, lit(1), greatest(size(ws) - 3, lit(1)))).as("text"))
            .withColumn("ord", col("doc_id") - off + hi + 1)
          odd.unionByName(dups)
        }
      (stream, Seq("doc_id", "text"), None)
    }
  }

  /** Materialize `sfDir`'s documents as `buckets` arrival-ordered parquet
    * files with a synthetic ingestion timestamp (`ts` = fixed epoch +
    * arrival ms), so "first occurrence" under ordered replay is exactly
    * "min doc_id" — the batch dedup convention the d-family oracles use.
    *
    * The corpus has no exact-duplicate texts, so the stream re-ingests
    * every 10th document (doc_id + 1,000,000) AFTER the full corpus —
    * the duplicates land in later microbatches than their originals,
    * forcing the dedup state to actually work across batch boundaries.
    * The es4/es5 oracles re-state the same injection in SQL.
    *
    * `injectDups = false` replays the corpus verbatim (still ordered and
    * bucketed) — the input for streaming operators whose batch twin runs
    * over the unmodified table (es6's k-mer counter vs g1). */
  def documentsDir(s: SparkSession, sfDir: String, buckets: Int = 4,
                   injectDups: Boolean = true): String = {
    val key =
      s"documents:${new java.io.File(sfDir).getCanonicalPath}:$buckets:$injectDups"
    materialize(key, buckets) {
      val docs = graft.Tables.documents(s, sfDir)
      val base = docs.withColumn("ord", col("doc_id"))
      val all =
        if (!injectDups) base
        else {
          val hiRow = docs.agg(max("doc_id")).first()
          if (hiRow.isNullAt(0)) base // empty corpus: nothing to re-ingest
          else {
            val hi = hiRow.getLong(0)
            val dups = docs.filter(col("doc_id") % 10 === 0)
              .withColumn("doc_id", col("doc_id") + 1000000L)
            base.unionByName(dups.withColumn("ord", col("doc_id") - 1000000L + hi + 1))
          }
        }
      (all.withColumn("ts", timestamp_millis(lit(1700000000000L) + col("ord"))),
        "ts" +: docs.columns.toSeq, None)
    }
  }
}
