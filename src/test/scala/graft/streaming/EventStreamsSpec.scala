package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.TestSpark
import java.sql.Timestamp

class EventStreamsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import EventStreams._

  private def ts(minutes: Long) = new Timestamp(1700000000000L + minutes * 60000L)

  test("sessionize closes sessions past the gap across microbatches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = sessionize(in.toDS(), gapMs = 30 * 60000L)
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    try {
      in.addData(
        Event(ts(0), 1L, "view", 1.0), Event(ts(10), 1L, "click", 1.0),
        Event(ts(0), 2L, "view", 1.0))
      q.processAllAvailable()
      assert(spark.table("sessions").count() == 0) // both sessions still open
      in.addData(Event(ts(70), 1L, "view", 1.0))   // 60-min gap for user 1
      q.processAllAvailable()
      val closed = spark.table("sessions").as[ClosedSession].collect().toSeq
      assert(closed == Seq(ClosedSession(1L, ts(0).getTime, ts(10).getTime, 2)))
    } finally q.stop()
  }

  test("runningUserStats accumulates across microbatches (update mode)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = runningUserStats(in.toDS())
      .writeStream.format("memory").queryName("ustats")
      .outputMode("update").start()
    try {
      in.addData(Event(ts(0), 1L, "view", 2.0), Event(ts(1), 1L, "view", 3.0))
      q.processAllAvailable()
      in.addData(Event(ts(2), 1L, "buy", 5.0), Event(ts(2), 2L, "view", 7.0))
      q.processAllAvailable()
      val last = spark.table("ustats").as[UserStats].collect()
        .groupBy(_.userId).map { case (u, rows) => u -> rows.maxBy(_.nEvents) }
      assert(last(1L) == UserStats(1L, 3, 1000L)) // 10.00 in cents
      assert(last(2L) == UserStats(2L, 1, 700L))
    } finally q.stop()
  }

  test("funnelStream fixpoint equals the batch e10 funnel on a replayed stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // u1 full funnel; u2 view+click, purchase BEFORE the click (must not
    // count); u3 click before any view (stalls at view); u4 view only
    val evs = Seq(
      Event(ts(0), 1L, "view", 0.0), Event(ts(5), 1L, "click", 0.0),
      Event(ts(9), 1L, "purchase", 0.0),
      Event(ts(1), 2L, "view", 0.0), Event(ts(2), 2L, "purchase", 0.0),
      Event(ts(6), 2L, "click", 0.0),
      Event(ts(3), 3L, "click", 0.0), Event(ts(4), 3L, "view", 0.0),
      Event(ts(7), 4L, "view", 0.0))
    val in = MemoryStream[Event]
    val q = funnelStream(in.toDS())
      .writeStream.format("memory").queryName("funnel")
      .outputMode("update").start()
    try {
      val (b1, b2) = evs.sortBy(_.ts.getTime).splitAt(5)
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
      val last = spark.table("funnel").as[FunnelRow].collect()
        .groupBy(_.userId).map { case (u, rows) => u -> rows.maxBy(_.stage) }
      // batch e10 on the same events (stage-filtered min-agg form)
      val ev = evs.toDF("ts", "user_id", "event_type", "value")
      val v = ev.filter($"event_type" === "view")
        .groupBy("user_id").agg(org.apache.spark.sql.functions.min(
          org.apache.spark.sql.functions.unix_micros($"ts")).as("v_us"))
      val c = ev.filter($"event_type" === "click").join(v, "user_id")
        .filter(org.apache.spark.sql.functions.unix_micros($"ts") > $"v_us")
        .groupBy("user_id").agg(org.apache.spark.sql.functions.min(
          org.apache.spark.sql.functions.unix_micros($"ts")).as("c_us"))
      val p = ev.filter($"event_type" === "purchase").join(c, "user_id")
        .filter(org.apache.spark.sql.functions.unix_micros($"ts") > $"c_us")
        .groupBy("user_id").agg(org.apache.spark.sql.functions.min(
          org.apache.spark.sql.functions.unix_micros($"ts")).as("p_us"))
      val batch = v.join(c, Seq("user_id"), "left").join(p, Seq("user_id"), "left")
        .collect().map { r =>
          val cu = if (r.isNullAt(2)) -1L else r.getLong(2)
          val pu = if (r.isNullAt(3)) -1L else r.getLong(3)
          r.getLong(0) -> FunnelRow(r.getLong(0), r.getLong(1), cu, pu,
            1 + (if (cu >= 0) 1 else 0) + (if (pu >= 0) 1 else 0))
        }.toMap
      batch.foreach { case (u, row) => assert(last(u) == row, s"user $u") }
      assert(last(1L).stage == 3 && last(2L).stage == 2 && last(4L).stage == 1)
    } finally q.stop()
  }

  test("clickAttribution matches across microbatches via buffered state") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val clicksIn = MemoryStream[(Long, Long, Timestamp)]
    val purchIn = MemoryStream[(Long, Long, Timestamp)]
    val clicks = clicksIn.toDF().toDF("click_id", "user_id", "cts")
      .withWatermark("cts", "1 hour")
    val purchases = purchIn.toDF().toDF("purchase_id", "p_user", "pts")
      .withWatermark("pts", "1 hour")
    val q = EventStreams.clickAttribution(clicks, purchases, 30 * 60000L)
      .select(col("click_id"), col("purchase_id"))
      .writeStream.format("memory").queryName("attrib")
      .outputMode("append").start()
    try {
      // batch 1: two clicks + one same-batch purchase for user 2
      clicksIn.addData((100L, 1L, ts(0)), (200L, 2L, ts(0)))
      purchIn.addData((900L, 2L, ts(5)))
      q.processAllAvailable()
      assert(spark.table("attrib").as[(Long, Long)].collect().toSet ==
        Set((200L, 900L))) // intra-batch match emitted immediately
      // batch 2: user 1's purchase arrives a batch LATER but in-window —
      // it must pair with the click BUFFERED in the join state store;
      // a second purchase outside the 30-min window must not match
      purchIn.addData((901L, 1L, ts(20)), (902L, 1L, ts(45)))
      q.processAllAvailable()
      assert(spark.table("attrib").as[(Long, Long)].collect().toSet ==
        Set((200L, 900L), (100L, 901L)))
    } finally q.stop()
  }

  test("left-outer clickAttribution emits null rows only once the " +
    "watermark finalizes the click") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val clicksIn = MemoryStream[(Long, Long, Timestamp)]
    val purchIn = MemoryStream[(Long, Long, Timestamp)]
    val clicks = clicksIn.toDF().toDF("click_id", "user_id", "cts")
      .withWatermark("cts", "1 hour")
    val purchases = purchIn.toDF().toDF("purchase_id", "p_user", "pts")
      .withWatermark("pts", "1 hour")
    val q = EventStreams.clickAttribution(clicks, purchases, 30 * 60000L,
        "left_outer")
      .select(col("click_id"), col("purchase_id"))
      .writeStream.format("memory").queryName("attrib_outer")
      .outputMode("append").start()
    try {
      // batch 1: click 100 never gets a purchase; click 200 matches
      clicksIn.addData((100L, 1L, ts(0)), (200L, 2L, ts(0)))
      purchIn.addData((900L, 2L, ts(5)))
      q.processAllAvailable()
      // batch 2: both sides jump 3 h ahead → watermark = 2 h. Click 100's
      // 30-min window is finalized (null row emits); click 300 at 3 h is
      // NOT finalized and must stay buffered, emitting nothing.
      clicksIn.addData((300L, 3L, ts(180)))
      purchIn.addData((901L, 9L, ts(180)))
      q.processAllAvailable()
      val got = spark.table("attrib_outer").as[(Long, Option[Long])]
        .collect().toSet
      assert(got == Set((200L, Some(900L)), (100L, None)), got)
    } finally q.stop()
  }

  test("stream-static enrichment joins each microbatch against the dim") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("userId", "tier")
    val in = MemoryStream[Event]
    val q = enrich(in.toDF(), dim)
      .select("userId", "eventType", "tier")
      .writeStream.format("memory").queryName("enriched")
      .outputMode("append").start()
    try {
      in.addData(Event(ts(0), 1L, "view", 1.0), Event(ts(1), 3L, "view", 1.0))
      q.processAllAvailable()
      val rows = spark.table("enriched").as[(Long, String, Option[String])]
        .collect().toSet
      assert(rows == Set((1L, "view", Some("gold")), (3L, "view", None)))
    } finally q.stop()
  }

  test("dedupStream drops in-watermark duplicates, keeps first occurrence") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String)]
    val q = dedupStream(in.toDS().toDF("ts", "text"), "ts", "text")
      .writeStream.format("memory").queryName("dedup")
      .outputMode("append").start()
    try {
      in.addData((ts(0), "alpha"), (ts(1), "beta"), (ts(2), "alpha"))
      q.processAllAvailable()
      in.addData((ts(3), "alpha"), (ts(4), "gamma"))
      q.processAllAvailable()
      val texts = spark.table("dedup").select("text").as[String].collect().toSeq
      assert(texts.sorted == Seq("alpha", "beta", "gamma"))
    } finally q.stop()
  }

  test("kmerCountStream accumulates canonical kmer counts across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[String]
    val q = kmerCountStream(in.toDS(), 5)
      .writeStream.format("memory").queryName("kstream")
      .outputMode("complete").start()
    try {
      in.addData("ACGTACG")
      q.processAllAvailable()
      in.addData("ACGTA") // one more copy of the first kmer
      q.processAllAvailable()
      val counts = spark.table("kstream").as[(Long, Long)].collect().toMap
      val batch = graft.operators.Genomics
        .countCanonical(Seq("ACGTACG", "ACGTA").toDS(), 5)
        .as[(Long, Long)].collect().toMap
      assert(counts == batch) // stream fixpoint == batch counter
    } finally q.stop()
  }

  test("sliding windows stream: each event lands in both overlapping windows") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{window, col, count, lit}
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = in.toDF()
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "60 minutes", "30 minutes"), col("eventType"))
      .agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName("sliding")
      .outputMode("complete").start()
    try {
      in.addData(Event(ts(10), 1L, "view", 1.0))
      q.processAllAvailable()
      // one event at minute 10 → windows [-20, 40) and [-50, 10)... with
      // epoch-aligned 30-min slides the event is in exactly 2 windows
      assert(spark.table("sliding").count() == 2)
    } finally q.stop()
  }

  test("curateStream gates quality and dedups first-occurrence across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val good = "the quick brown fox jumps over a lazy dog of the north"
    val in = MemoryStream[(Timestamp, Long, String)]
    val q = curateStream(
      in.toDF().toDF("ts", "doc_id", "text"))
      .writeStream.format("memory").queryName("curated")
      .outputMode("append").start()
    try {
      in.addData((ts(0), 1L, good), (ts(1), 2L, "too short"))
      q.processAllAvailable()
      in.addData((ts(2), 3L, good)) // exact dup of doc 1, later batch
      q.processAllAvailable()
      val kept = spark.table("curated").select("doc_id").as[Long].collect().toSet
      assert(kept == Set(1L)) // 2 fails quality, 3 dedups against 1
    } finally q.stop()
  }

  test("hourlyCounts windows by event time with watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = hourlyCounts(in.toDF())
      .writeStream.format("memory").queryName("hourly")
      .outputMode("complete").start()
    try {
      in.addData(
        Event(ts(5), 1L, "view", 1.0), Event(ts(20), 2L, "view", 1.0),
        Event(ts(65), 1L, "click", 1.0))
      q.processAllAvailable()
      val rows = spark.table("hourly")
        .select("eventType", "n").as[(String, Long)].collect().toSet
      assert(rows == Set(("view", 2L), ("click", 1L)))
    } finally q.stop()
  }

  test("dqMonitor accumulates violation counters across state commits") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String, java.lang.Long, java.lang.Double)]
    val q = EventStreams.dqMonitor(
        in.toDF().toDF("ts", "event_type", "user_id", "value"))
      .writeStream.format("memory").queryName("dqmon")
      .outputMode("complete").start()
    try {
      in.addData((ts(0), "click", java.lang.Long.valueOf(1L),
          java.lang.Double.valueOf(1.0)),
        (ts(5), "click", null, java.lang.Double.valueOf(2.0)))
      q.processAllAvailable()
      def row() = spark.table("dqmon").filter("event_type = 'click'")
        .select("n", "v_null_user", "v_value_range")
        .as[(Long, Long, Long)].collect().head
      assert(row() == ((2L, 1L, 0L)))
      // second commit: the counters must fold ONTO restored state
      in.addData((ts(10), "click", java.lang.Long.valueOf(2L),
        java.lang.Double.valueOf(-5.0)))
      q.processAllAvailable()
      assert(row() == ((3L, 1L, 1L)))
    } finally q.stop()
  }

  test("native session_window MERGES two open sessions on a bridging event") {
    // the behavior that distinguishes the session-window state store
    // (es17) from a tumbling window: two sessions 40 min apart are
    // separate until a LATER microbatch lands an event between them
    // within the gap of both — the store must collapse them into one
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long, Double)]
    val q = sessionWindowTotals(
        in.toDF().toDF("ts", "user_id", "value"), gap = "30 minutes")
      .writeStream.format("memory").queryName("swmerge")
      .outputMode("complete").start()
    try {
      in.addData((ts(0), 1L, 1.0), (ts(40), 1L, 1.0))
      q.processAllAvailable()
      assert(spark.table("swmerge").count() == 2) // two separate sessions
      in.addData((ts(20), 1L, 1.0)) // bridges: 0-20 and 20-40 both in-gap
      q.processAllAvailable()
      val rows = spark.table("swmerge")
        .selectExpr("sw.start", "sw.end", "n_events")
        .as[(Timestamp, Timestamp, Long)].collect().toSeq
      assert(rows == Seq((ts(0), new Timestamp(ts(40).getTime + 30 * 60000L), 3L)),
        s"sessions did not merge: $rows")
    } finally q.stop()
  }

  // ---- append-mode EMISSION TIMING pins (es2a / es9a) ----------------------
  // The es* oracle gates prove the accumulated result; these tests pin the
  // per-batch emission record the es2a/es9a capture sinks leave on disk:
  // the replay really ran >= 4 microbatches, rows surfaced INCREMENTALLY
  // across batches (not all at the end), and no row was ever re-emitted —
  // the Append-mode contract (outputMode("append") in both builders; a
  // Complete-mode sink would re-emit every row each batch and trip the
  // exactly-once assertion below).

  private def batchCounts(capDir: String): Seq[(Int, Long)] = {
    import org.apache.spark.sql.functions._
    spark.read.parquet(capDir).groupBy("batch_id").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toSeq.sortBy(_._1)
  }

  test("es2a: sessions emitted incrementally across >=3 batches, exactly once") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val out = graft.SparkEntry.queries("es2a_sessionize_batches")(spark, sf)
    val batch = graft.SparkEntry.queries("e2_sessionize")(spark, sf)
    assert(out.collect().map(_.toString).toSet ==
      batch.collect().map(_.toString).toSet,
      "per-batch capture union != batch sessionization")
    val capDir = graft.Scratch.dir("sf0.001") + "/es2a/out"
    val parts = new java.io.File(capDir).listFiles()
      .filter(_.getName.startsWith("batch_id=")).map(_.getName).sorted.toSeq
    assert(parts.length >= 4, s"replay ran < 4 microbatches: $parts")
    val counts = batchCounts(capDir)
    val emitting = counts.filter(_._2 > 0)
    assert(emitting.size >= 3,
      s"sessions not emitted incrementally across batches: $counts")
    assert(emitting.head._1 < parts.length - 1,
      s"all emission happened in the final batch: $counts")
    // exactly-once: a closed session never reappears in a later batch
    val dup = spark.read.parquet(capDir)
      .groupBy("userId", "startMs")
      .agg(countDistinct(col("batch_id")).as("nb"))
      .filter(col("nb") > 1).count()
    assert(dup == 0, s"$dup sessions re-emitted across batches")
  }

  /** `body`'s result and the state rows its streams evicted, summed by
    * [[ReplayRunner]] from each run's progress once the run has ended. */
  private def withRemovedRows[T](body: => T): (T, Long) = {
    import graft.core.Counters
    val before = Counters.snapshot
    val r = body
    (r, Counters.diff(before, Counters.snapshot).getOrElse("stream.state_rows_removed", 0L))
  }

  test("es9a: join matches emit across batches, exactly once, with state eviction") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    // numRowsRemoved > 0 proves the advancing watermark really discarded
    // buffered join rows MID-REPLAY — the property that bounds
    // stream-stream join state by the in-window rate, not stream length
    val (out, removed) = withRemovedRows(
      graft.SparkEntry.queries("es9a_ssjoin_batches")(spark, sf))
    assert(out.count() > 0)
    val capDir = graft.Scratch.dir("sf0.001") + "/es9a/out"
    val counts = batchCounts(capDir)
    assert(counts.length >= 4, s"replay ran < 4 microbatches: $counts")
    assert(counts.count(_._2 > 0) >= 3,
      s"matches not emitted incrementally: $counts")
    val dup = spark.read.parquet(capDir)
      .groupBy("click_id", "purchase_id")
      .agg(countDistinct(col("batch_id")).as("nb"))
      .filter(col("nb") > 1).count()
    assert(dup == 0, s"$dup matched pairs re-emitted across batches")
    assert(removed > 0, "watermark never evicted buffered join state")
  }

  test("es18: append-mode session_window evicts finalized session state") {
    val sf = "/root/testdata/sf0.001"
    // the eviction half of the es18 claim: the watermark's passage doesn't
    // just EMIT a session exactly once, it REMOVES the session's rows from
    // the state store mid-replay — what bounds the operator's memory by
    // open sessions instead of all sessions ever seen (Complete-mode es17
    // removes nothing by design, so a counter that credits removals it
    // did not see fails the second check)
    val (out, removed) = withRemovedRows(
      graft.SparkEntry.queries("es18_session_window_append")(spark, sf))
    val (complete, completeRemoved) = withRemovedRows(
      graft.SparkEntry.queries("es17_stream_session_window")(spark, sf))
    assert(out.collect().map(_.toString).toSet ==
      complete.collect().map(_.toString).toSet,
      "append-mode finalized sessions != complete-mode fixpoint")
    assert(removed > 0, "watermark never evicted finalized session state")
    assert(completeRemoved == 0,
      s"complete-mode es17 reported $completeRemoved evicted state rows")
  }

  test("es7a: update-mode emissions supersede across batches, last write wins") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val out = graft.SparkEntry.queries("es7a_user_stats_batches")(spark, sf)
    val batch = graft.SparkEntry.queries("es7_stream_user_stats")(spark, sf)
    assert(out.collect().map(_.toString).toSet ==
      batch.collect().map(_.toString).toSet,
      "last-write-wins reconstruction != running-stats fixpoint")
    val capDir = graft.Scratch.dir("sf0.001") + "/es7a/out"
    val counts = batchCounts(capDir)
    assert(counts.length >= 4, s"replay ran < 4 microbatches: $counts")
    assert(counts.count(_._2 > 0) >= 3,
      s"updates not emitted incrementally: $counts")
    // supersession is REAL: some users were re-emitted in later batches
    // with a larger cumulative count than their earlier emission — the
    // exact rows a Complete/Append confusion or a stale-replay sink would
    // mis-reconstruct
    val cap = spark.read.parquet(capDir)
    val superseded = cap.groupBy("userId")
      .agg(countDistinct(col("batch_id")).as("nb"),
        (max(col("nEvents")) - min(col("nEvents"))).as("growth"))
      .filter(col("nb") >= 2 && col("growth") > 0).count()
    assert(superseded > 0, "no user was ever superseded across batches — " +
      "the update-mode capture degenerated to a single emission per user")
  }
}
