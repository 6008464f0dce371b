package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables._
import graft.streaming.{EventStreams, Replay, ReplayRunner}

/** Event/time-series layer over the `events` table: time-bucketed
  * aggregation, gap-based sessionization, JSON prop extraction, and
  * first-touch analytics. Timestamps are compared/diffed in epoch
  * milliseconds and emitted as formatted strings so the DuckDB oracle is
  * representation-exact.
  *
  * These are the batch shapes of the streaming surface: e4's tumbling
  * window is exactly `window(ts, '6 hours')`, and e2's sessionization is
  * the batch analogue of `flatMapGroupsWithState` session windows (the
  * streaming variants live in graft.streaming).
  */
object Events extends QueryFamily {
  private def fmt(c: org.apache.spark.sql.Column) =
    date_format(c, "yyyy-MM-dd HH:mm:ss")

  /** Shared by es1 and es13 — the two runs differ only in state-store
    * backend and must land the identical table. */
  private val sqlHourlyTotals =
    """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour, event_type,
      |  COUNT(*) AS n,
      |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS total
      |FROM events GROUP BY 1, 2""".stripMargin

  /** The replayed events as typed [[EventStreams.Event]]s (es2, es2a, es3,
    * es7, es7a). */
  private def typedEvents(s: SparkSession, dir: String): Dataset[EventStreams.Event] = {
    import s.implicits._
    ReplayRunner.parquet(s, dir)
      .select(col("ts"), col("user_id").as("userId"),
        col("event_type").as("eventType"), col("value"))
      .as[EventStreams.Event]
  }

  /** es9–es11's stream-stream join over the ordered replay: clicks and
    * purchases are two independent sources, each watermarked 3 days —
    * more than the 2-day join window, so in-window partners are never
    * evicted before they can match (see [[EventStreams.clickAttribution]]).
    * `user_id` falls back to the purchase's user for a full-outer
    * unmatched purchase. */
  private def clickPurchasePairs(s: SparkSession, d: String, how: String): DataFrame = {
    val dir = Replay.eventsDir(s, d)
    val clicks = ReplayRunner.parquet(s, dir).filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("cts"))
      .withWatermark("cts", "3 days")
    val purchases = ReplayRunner.parquet(s, dir).filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("pts"))
      .withWatermark("pts", "3 days")
    EventStreams.clickAttribution(clicks, purchases, 2L * 86400 * 1000, how)
      .select(col("click_id"), col("purchase_id"),
        coalesce(col("user_id"), col("p_user")).as("user_id"),
        expr("(unix_micros(pts) - unix_micros(cts)) div 1000").as("gap_ms"))
  }

  /** es1/es13's hourly totals in batch e1's shape. */
  private def hourRows(t: DataFrame): DataFrame =
    t.select(fmt(col("hour_ts")).as("hour"), col("event_type"), col("n"), col("total"))

  /** es17/es17b/es18's session windows in batch e8's shape. */
  private def sessionWindowRows(t: DataFrame): DataFrame =
    t.select(col("user_id"),
      unix_micros(col("sw.start")).as("start_us"),
      unix_micros(col("sw.end")).as("end_us"),
      col("n_events"), col("sum_dec").cast("double").as("sum_value"))

  /** es2/es2a's emitted sessions in batch e2's shape. Emitted
    * ClosedSessions carry no ordinal; sessions of one user are
    * time-disjoint, so a row_number by startMs rebuilds e2's session_id
    * (its running gap-flag sum) exactly. */
  private def sessionRows(t: DataFrame): DataFrame = {
    val byStart = Window.partitionBy(col("userId")).orderBy(col("startMs"))
    t.withColumn("session_id", row_number().over(byStart).cast("long"))
      .select(col("userId").as("user_id"), col("session_id"),
        col("nEvents").as("n_events"),
        (col("endMs") - col("startMs")).as("dur_ms"),
        fmt(timestamp_millis(col("startMs"))).as("start_ts"))
  }

  private val SessionGapMs = 30L * 60 * 1000

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // -- hourly tumbling aggregation ---------------------------------------
    "e1_hourly_agg" -> ((s, d) =>
      events(s, d)
        .groupBy(fmt(date_trunc("hour", col("ts"))).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("decimal(38,2)")
            .cast("double").as("total"))),

    // -- es1: batch-stream parity through the correctness gate -------------
    // the Structured Streaming hourly pipeline ([[EventStreams
    // .hourlyTotals]]: file stream source -> event-time window agg) run
    // to completion ([[ReplayRunner]]) in Complete mode lands
    // exactly the batch e1 answer in a memory sink — so the STREAMING
    // operator is proven against the same DuckDB oracle as e1, not just
    // specs. The memory sink holds only the hour x event_type aggregate
    // (tiny at any scale); a production run would stream to parquet.
    // The input is the cached time-bucketed [[graft.streaming.Replay]] dir
    // (4 event-time-ordered microbatches), so the windowed state is
    // genuinely built incrementally across batches.
    "es1_stream_hourly" -> ((s, d) => {
      val ev = ReplayRunner.parquet(s, Replay.eventsDir(s, d))
      hourRows(ReplayRunner.memory(EventStreams.hourlyTotals(ev), "es1_hourly_mem", "complete"))
    }),

    // -- es17: NATIVE session_window aggregation in streaming --------------
    // the one stateful operator class the es-family had not exercised:
    // Spark's session-window state store, which MERGES windows as events
    // arrive (a late bridging event collapses two open sessions into
    // one). es2 sessionizes with hand-written flatMapGroupsWithState
    // logic; es17 lets the engine's native merge do it and must land
    // exactly batch e8's answer (same oracle, same hash) after the
    // ordered replay runs to completion in Complete mode.
    "es17_stream_session_window" -> ((s, d) => {
      val ev = ReplayRunner.parquet(s, Replay.eventsDir(s, d))
      sessionWindowRows(ReplayRunner.memory(
        EventStreams.sessionWindowTotals(ev), "es17_sw_mem", "complete"))
    }),

    // -- es17b: session-window store under OUT-OF-ORDER bridging arrival ---
    // es17 replays in event-time order, so a window only ever EXTENDS.
    // This variant defers every 5th event past the whole stream
    // (Replay.eventsDir deferOutOfOrder — times untouched, arrival order
    // scrambled), so the state store now receives late mid-session events
    // that land BETWEEN two already-open windows within the gap of both
    // and must MERGE them (SessionCoherenceSpec proves such bridging
    // shapes exist in the deferred set). The Complete-mode fixpoint must
    // still hash-match the same batch session_window oracle as es17 —
    // merge correctness proven through the gate, not by argument.
    "es17b_stream_session_ooo" -> ((s, d) => {
      val ev = ReplayRunner.parquet(s, Replay.eventsDir(s, d, deferOutOfOrder = true))
      sessionWindowRows(ReplayRunner.memory(
        EventStreams.sessionWindowTotals(ev), "es17b_sw_mem", "complete"))
    }),

    // -- es18: native session_window FINALIZATION (append + watermark) -----
    // es17/es17b prove the merged session STATE (Complete-mode fixpoints);
    // es18 proves session EVICTION: in Append mode the state store emits a
    // session exactly once — in the batch whose watermark first passes its
    // end — and drops its state, which is how the operator's memory stays
    // bounded by OPEN sessions on an unbounded stream (Complete mode keeps
    // every session ever seen resident). The per-user `__flush` sentinels
    // drive the watermark past the last real sessions so the bounded
    // replay finalizes them; the appended union must hash-match the same
    // batch session_window oracle as es17.
    "es18_session_window_append" -> ((s, d) => {
      val ev = ReplayRunner.parquet(s, Replay.eventsDir(s, d, sentinelGapMs = SessionGapMs))
      sessionWindowRows(ReplayRunner.memory(
        EventStreams.sessionWindowTotalsAppend(ev), "es18_swa_mem", "append"))
    }),

    // -- es13: the SAME pipeline on the RocksDB state-store backend --------
    // at 100 TB the windowed/joined state no longer fits executor heaps —
    // the deployment answer is Spark's RocksDB state store (state lives
    // off-heap/on-disk per partition, checkpointed incrementally). Swapping
    // the provider must be a pure deployment knob: es13 runs es1's exact
    // file-stream -> window-agg pipeline under
    // RocksDBStateStoreProvider and must hash-match the SAME DuckDB oracle
    // — proving results are backend-invariant through the gate, not by
    // argument. (RocksDbStateSpec additionally proves a stateful
    // mapGroupsWithState pipeline and checkpoint restart on RocksDB.)
    "es13_stream_rocksdb" -> ((s, d) => {
      val ev = ReplayRunner.parquet(s, Replay.eventsDir(s, d))
      val key = "spark.sql.streaming.stateStore.providerClass"
      val prev = s.conf.getOption(key)
      s.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try hourRows(ReplayRunner.memory(
        EventStreams.hourlyTotals(ev), "es13_rocksdb_mem", "complete"))
      finally prev match {
        case Some(v) => s.conf.set(key, v)
        case None => s.conf.unset(key)
      }
    }),

    // -- e17: SCD-2 interval build (type-2 slowly-changing dimension) ------
    // the warehouse-modeling shape: each user's event_type history becomes
    // validity intervals [valid_from, valid_to) — a new interval opens
    // when the type CHANGES, the current one stays open (null valid_to).
    // One shuffle on user_id, then everything is per-user window passes:
    // change-flag (lag) -> running run-id (sum) -> per-run agg -> lead for
    // the closing timestamp. No self-join, no global sort — the standard
    // distributed SCD2 build at any scale.
    "e17_scd2" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val runs = events(s, d)
        .withColumn("chg",
          when(lag(col("event_type"), 1).over(w).isNull ||
            lag(col("event_type"), 1).over(w) =!= col("event_type"), 1)
            .otherwise(0))
        .withColumn("run", sum(col("chg")).over(
          w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy(col("user_id"), col("run"))
        // all rows of a run share one event_type; min() states that
        // determinism explicitly
        .agg(min(col("event_type")).as("event_type"),
          min(struct(col("ts"), col("event_id"))).as("fk"),
          count(lit(1)).as("n_events"))
        .select(col("user_id"), col("run"), col("event_type"),
          col("fk.ts").as("from_ts"), col("n_events"))
      val byRun = Window.partitionBy("user_id").orderBy("run")
      runs.withColumn("to_ts", lead(col("from_ts"), 1).over(byRun))
        .select(col("user_id"), col("run"), col("event_type"),
          fmt(col("from_ts")).as("valid_from"),
          fmt(col("to_ts")).as("valid_to"), col("n_events"))
    }),

    // -- es2: STATEFUL streaming sessionization through the oracle gate ----
    // [[EventStreams.sessionize]] (flatMapGroupsWithState, Append mode) over
    // the 4-batch event-time-ordered replay + a __flush sentinel batch that
    // closes every user's last open session. Emitted ClosedSessions carry
    // no ordinal, so a batch row_number per user (sessions of one user are
    // time-disjoint, so startMs orders them exactly like e2's running
    // gap-flag sum) rebuilds session_id — then the result must hash-match
    // the SAME DuckDB oracle as batch e2. State crosses 4 real state-store
    // commits, which is the seam a single-batch replay would never test.
    "es2_stream_sessionize" -> ((s, d) => {
      val ev = typedEvents(s, Replay.eventsDir(s, d, sentinelGapMs = SessionGapMs))
      sessionRows(ReplayRunner.memory(
        EventStreams.sessionize(ev, SessionGapMs), "es2_sessions_mem", "append"))
    }),

    // -- es2a: APPEND-MODE EMISSION TIMING for the sessionizer -------------
    // es2 proves the accumulated append-mode result; es2a additionally
    // RECORDS WHEN each session was emitted: every microbatch is written
    // to its own batch_id=<n> parquet partition by a foreachBatch sink
    // (the per-batch landing a real pipeline does — distributed write,
    // nothing collected to the driver). The union across partitions must
    // still hash-match batch e2's oracle, and EventStreamsSpec pins the
    // timing half on the capture dir: the replay ran >= 4 microbatches,
    // sessions were emitted incrementally across >= 3 distinct batches
    // (not all at the end), and no session row was ever re-emitted —
    // Append mode's exactly-once emission contract, per batch, on disk.
    "es2a_sessionize_batches" -> ((s, d) => {
      val ev = typedEvents(s, Replay.eventsDir(s, d, sentinelGapMs = SessionGapMs))
      sessionRows(ReplayRunner.capture(EventStreams.sessionize(ev, SessionGapMs),
        s"${graft.Scratch.dir(d)}/es2a/out", "append").drop("batch_id"))
    }),

    // -- es3: STATEFUL streaming funnel through the oracle gate ------------
    // [[EventStreams.funnelStream]] (mapGroupsWithState, Update mode) over
    // the ordered replay; the memory sink accumulates one row per touched
    // user per batch, and since funnel fields are set-once (-1 until
    // reached) the per-user max over emitted rows IS the final state — no
    // sentinel needed. Filtered to funnel entrants (first stage reached)
    // and shaped to batch e10's columns, it must hash-match e10's oracle.
    "es3_stream_funnel" -> ((s, d) => {
      val ev = typedEvents(s, Replay.eventsDir(s, d))
      ReplayRunner.memory(EventStreams.funnelStream(ev), "es3_funnel_mem", "update")
        .groupBy(col("userId"))
        .agg(max("vUs").as("v"), max("cUs").as("c"), max("pUs").as("p"))
        .filter(col("v") >= 0)
        .select(col("userId").as("user_id"), col("v").as("v_us"),
          when(col("c") >= 0, col("c")).as("c_us"),
          when(col("p") >= 0, col("p")).as("p_us"),
          (lit(1) + when(col("c") >= 0, 1).otherwise(0) +
            when(col("p") >= 0, 1).otherwise(0)).as("stage"))
    }),

    // -- es4: streaming watermark dedup through the oracle gate ------------
    // [[EventStreams.dedupStream]] (dropDuplicatesWithinWatermark on the
    // content hash) over the arrival-ordered documents replay (synthetic
    // ingestion ts; every 10th doc re-ingested in a LATER microbatch, so
    // dedup state must survive real batch boundaries to drop them).
    // Ordered arrival makes "first occurrence kept" = "min doc_id kept",
    // so the emitted set must hash-match the batch min-doc_id dedup of
    // the same injected stream. The replay span (seconds) sits far inside
    // the 24 h watermark, so no state is evicted and the stream computes
    // the EXACT dedup — the state-bound/completeness trade only starts
    // past the horizon.
    "es4_stream_dedup" -> ((s, d) => {
      val docs = ReplayRunner.parquet(s, Replay.documentsDir(s, d))
      ReplayRunner.memory(
        EventStreams.dedupStream(docs, "ts", "text", watermark = "24 hours"),
        "es4_dedup_mem", "append")
        .select(col("h"), col("doc_id").as("keeper"))
    }),

    // -- es16: streaming LSH near-dup gate through the oracle gate ---------
    // [[EventStreams.lshGateStream]]: the INCREMENTAL ingestion shape —
    // the even-id half of the corpus is the already-ingested static LSH
    // band index (built in batch, [[Dedup.bandRows]]); the stream replays
    // the odd half (novel) plus truncated near-dup copies of indexed
    // docs arriving in the last microbatches
    // ([[graft.streaming.Replay.incrementalDocsDir]]). es4 dedups EXACT
    // content hashes; this gate catches NEAR-dups a content hash never
    // sees. Complete-mode fixpoint must match the batch band left-join.
    "es16_stream_lsh_dedup" -> ((s, d) => {
      val docs = ReplayRunner.parquet(s, Replay.incrementalDocsDir(s, d))
      val idx = Dedup.bandRows(
          documents(s, d).filter(col("doc_id") % 2 === 0)
            .select("doc_id", "text"))
        .localCheckpoint() // static side: materialized once, probed per batch
      ReplayRunner.memory(EventStreams.lshGateStream(docs, idx), "es16_lsh_mem", "complete")
    }),

    // -- es5: streaming ingest curation through the oracle gate ------------
    // [[EventStreams.curateStream]]: per-row quality gates (token count,
    // stopword presence — same thresholds as the batch quality_ok verdict)
    // + watermark-bounded exact dedup, over the same ordered documents
    // replay. The oracle re-states the gates in DuckDB and keeps min
    // doc_id per surviving content hash.
    "es5_stream_curate" -> ((s, d) => {
      val docs = ReplayRunner.parquet(s, Replay.documentsDir(s, d))
      ReplayRunner.memory(EventStreams.curateStream(docs, "ts", watermark = "24 hours"),
        "es5_curate_mem", "append")
        .select(col("h"), col("doc_id").as("keeper"))
    }),

    // -- es6: streaming k-mer counter through the oracle gate --------------
    // [[EventStreams.kmerCountStream]] (the `counter` pipeline as an
    // Update/Complete-mode hash aggregation: state = one row per distinct
    // k-mer, exactly the batch shuffle key space) over the plain ordered
    // documents replay; run to completion it must land the batch g1
    // answer, so it shares g1's DuckDB oracle. The typed flatMap
    // (KmerIter over packed longs) crosses real microbatch boundaries —
    // counts accumulate in the state store, not in one shuffle.
    "es6_stream_kmer_count" -> ((s, d) => {
      import s.implicits._
      val reads = ReplayRunner.parquet(s, Replay.documentsDir(s, d, injectDups = false))
        .select(Genomics.dna32(col("doc_id")).cast("string")).as[String]
      Genomics.decodeCounts(ReplayRunner.memory(
        EventStreams.kmerCountStream(reads, 15), "es6_kmer_mem", "complete"), 15)
    }),

    // -- es7: running per-user stats through the oracle gate ---------------
    // [[EventStreams.runningUserStats]] (mapGroupsWithState, Update mode)
    // over the 4-batch ordered replay; each batch emits the user's
    // cumulative row, nEvents is monotone, so max-by-nEvents over the
    // memory sink is the final state. Cents→double at the end reproduces
    // e1's decimal(18,2) summing convention exactly, so the result must
    // hash-match a plain batch GROUP BY user_id in DuckDB.
    "es7_stream_user_stats" -> ((s, d) => {
      val ev = typedEvents(s, Replay.eventsDir(s, d))
      ReplayRunner.memory(EventStreams.runningUserStats(ev), "es7_ustats_mem", "update")
        .groupBy(col("userId"))
        .agg(max(struct(col("nEvents"), col("totalCents"))).as("m"))
        .select(col("userId").as("user_id"), col("m.nEvents").as("n_events"),
          (col("m.totalCents") / 100.0).as("total"))
    }),

    // -- es7a: UPDATE-MODE EMISSION TIMING for the running stats -----------
    // completes the emission-timing triad (es2a/es9a pin Append, the es*
    // fixpoints pin Complete): Update mode's contract is SUPERSESSION —
    // each batch emits one row per UPDATED key and the chronologically
    // LAST emission for a key is the final state. The per-batch rows land
    // in batch_id=<n> parquet partitions (foreachBatch, distributed
    // write), and reconstruction takes max-by-BATCH-ID per user — NOT
    // es7's monotone max-by-nEvents trick, so a sink that replayed stale
    // rows late or dropped a final update would hash-mismatch even where
    // the monotone reduction hides it. Must land on es7's plain GROUP BY
    // oracle; EventStreamsSpec pins the timing half (>= 4 batches, users
    // re-emitted across batches, intermediate emissions genuinely
    // superseded).
    "es7a_user_stats_batches" -> ((s, d) => {
      val ev = typedEvents(s, Replay.eventsDir(s, d))
      // last-write-wins: batch_id leads the struct, so max == the row
      // from the latest batch that updated this user (one row per
      // (user, batch) — mapGroupsWithState emits each group at most once
      // per batch, so the ordering is total)
      ReplayRunner.capture(EventStreams.runningUserStats(ev),
          s"${graft.Scratch.dir(d)}/es7a/out", "update")
        .groupBy(col("userId"))
        .agg(max(struct(col("batch_id"), col("nEvents"), col("totalCents"))).as("m"))
        .select(col("userId").as("user_id"), col("m.nEvents").as("n_events"),
          (col("m.totalCents") / 100.0).as("total"))
    }),

    // -- es8: stream-static enrichment join through the oracle gate --------
    // [[EventStreams.enrich]]: the event stream left-joins a BROADCAST
    // static customer dimension per microbatch (the standard reference-
    // data lookup shape — stateless, no stream-stream state), then a
    // Complete-mode aggregation rolls the enriched stream up by market
    // segment. Must hash-match the same join+rollup in DuckDB.
    "es8_stream_enrich" -> ((s, d) => {
      val ev = ReplayRunner.parquet(s, Replay.eventsDir(s, d))
        .select(col("user_id").as("userId"), col("event_type"), col("value"))
      val dim = customer(s, d)
        .select(col("c_custkey").as("userId"), col("c_mktsegment"))
      ReplayRunner.memory(EventStreams.enrich(ev, dim)
        .groupBy(coalesce(col("c_mktsegment"), lit("<none>")).as("segment"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("decimal(38,2)")
            .cast("double").as("total")), "es8_enrich_mem", "complete")
    }),

    // -- es15: streaming data-quality monitor through the oracle gate ------
    // [[graft.streaming.EventStreams.dqMonitor]]: the dq1 constraint
    // family run CONTINUOUSLY — per-event_type violation counters and
    // freshness bounds maintained across 4 real state-store commits; the
    // Complete-mode fixpoint must equal the same conditional aggregates
    // stated over the whole table in DuckDB (every metric is an
    // associative sum/min/max, so the microbatch split cannot show).
    "es15_stream_dq" -> ((s, d) => {
      val ev = ReplayRunner.parquet(s, Replay.eventsDir(s, d))
        .select(col("ts"), col("event_type"), col("user_id"), col("value"))
      ReplayRunner.memory(EventStreams.dqMonitor(ev), "es15_dq_mem", "complete")
    }),

    // -- es9: STREAM-STREAM interval join through the oracle gate ----------
    // [[EventStreams.clickAttribution]]: two independent stream
    // sources over the same ordered replay (clicks / purchases slices),
    // watermarked on both sides, inner-joined on user with the purchase
    // bounded to 2 days after the click. This is the one Structured
    // Streaming join class es1-es8 didn't cover (stateful BUFFERED join:
    // both sides hold state, eviction is derived from the watermark +
    // range condition — where stream-stream join bugs actually live).
    // The 2-DAY window is sized against the replay (30-day stream in 4
    // microbatches): matches genuinely cross microbatch boundaries — a
    // batch-N click pairs with a batch-N+1 purchase through the buffered
    // state (verified: 11 of 192 pairs cross at sf0.001, 172 of 1695 at
    // sf0.01) — a 30-min window would make every match intra-batch and
    // leave the state path untested. The emitted set on the bounded
    // replay must hash-match the batch DuckDB interval join.
    "es9_stream_stream_join" -> ((s, d) =>
      ReplayRunner.memory(clickPurchasePairs(s, d, "inner"), "es9_ssjoin_mem", "append")),

    // -- es9a: APPEND-MODE EMISSION TIMING for the stream-stream join ------
    // es9 proves the accumulated inner-join result; es9a additionally
    // records WHICH microbatch emitted each matched pair (foreachBatch ->
    // one batch_id=<n> parquet partition per batch, distributed write).
    // Inner-join matches emit as soon as both sides have arrived, so on
    // the 4-bucket replay the pairs must surface incrementally across
    // batches — EventStreamsSpec pins that, the no-re-emission contract,
    // AND state eviction (numRowsRemoved > 0 in the progress metrics: the
    // advancing watermark really discards buffered rows mid-replay, the
    // property that bounds join state at 100 TB/day). The union across
    // partitions hash-matches the same DuckDB interval-join oracle as es9.
    "es9a_ssjoin_batches" -> ((s, d) =>
      ReplayRunner.capture(clickPurchasePairs(s, d, "inner"),
        s"${graft.Scratch.dir(d)}/es9a/out", "append").drop("batch_id")),

    // -- es10: stream-stream LEFT OUTER join -------------------------------
    // the null-emitting half of the es9 join class — where the HARD
    // streaming semantics live: an unmatched click may only emit its null
    // row once the watermark proves no in-window purchase can still
    // arrive (state finalization), so the emitted set depends on the
    // final watermark, not just the data. On the bounded AvailableNow
    // replay that watermark is DETERMINISTIC — min(max cts, max pts) −
    // 3 days — so the oracle states the exact same truncation in SQL:
    // matched pairs are the batch interval join; unmatched clicks emit
    // iff cts + 2 days < final watermark (clicks younger than that hold
    // state at shutdown and emit nothing — precisely Spark's rule, and
    // precisely what a resumed run would later emit). Hash-matching this
    // proves the finalization boundary, not just the join.
    "es10_stream_outer_join" -> ((s, d) =>
      ReplayRunner.memory(clickPurchasePairs(s, d, "left_outer"), "es10_outer_mem", "append")),

    // -- es11: stream-stream FULL OUTER join -------------------------------
    // completes the stream-stream join family (inner es9, left es10):
    // BOTH sides may emit null rows, each under its own watermark
    // finalization rule — an unmatched click once no in-window purchase
    // can arrive (cts + 2 d < W), an unmatched purchase once no click it
    // could pair with can arrive (pts < W; its matchable clicks have
    // cts ∈ [pts − 2 d, pts], and a late click is admitted up to W).
    // Both rules are stated verbatim in the oracle over the deterministic
    // end-of-replay watermark, so the hash match pins the finalization
    // boundary on BOTH state stores at once.
    "es11_stream_full_outer" -> ((s, d) =>
      ReplayRunner.memory(
        clickPurchasePairs(s, d, "full_outer"), "es11_full_outer_mem", "append")),

    // -- 30-minute-gap sessionization (lag + running sum of gap flags) -----
    "e2_sessionize" -> ((s, d) => {
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val run = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val gapMs = unix_millis(col("ts")) - unix_millis(lag(col("ts"), 1).over(byUser))
      events(s, d)
        .withColumn("new_sess",
          when(gapMs.isNull || gapMs > 30L * 60 * 1000, 1).otherwise(0))
        .withColumn("session_id", sum(col("new_sess")).over(run))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          (max(unix_millis(col("ts"))) - min(unix_millis(col("ts")))).as("dur_ms"),
          fmt(min(col("ts"))).as("start_ts"))
    }),

    // -- JSON prop extraction + per-type rollup ----------------------------
    "e3_json_props" -> ((s, d) =>
      events(s, d)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy(col("event_type"))
        .agg(sum(col("k")).as("sum_k"),
          countDistinct(col("user_id")).as("n_users"))),

    // -- 6-hour tumbling window via Spark's window() -----------------------
    "e4_tumbling_6h" -> ((s, d) =>
      events(s, d)
        .groupBy(window(col("ts"), "6 hours"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(fmt(col("window.start")).as("bucket"), col("event_type"), col("n"))),

    // -- first-touch per user ----------------------------------------------
    "e5_first_touch" -> ((s, d) => {
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      events(s, d)
        .withColumn("rn", row_number().over(byUser))
        .withColumn("n", count(lit(1)).over(Window.partitionBy(col("user_id"))))
        .filter(col("rn") === 1)
        .select(col("user_id"), fmt(col("ts")).as("first_ts"),
          col("event_type").as("first_type"), col("n"))
    }),

    // -- as-of join: attribute each purchase to the latest preceding click -
    // Spark has no ASOF JOIN; the scalable formulation is union-and-window:
    // tag both streams, sort once per key, carry the last click forward
    // with last_value(ignoreNulls). ONE shuffle on user_id — no range
    // explode, no per-row probe — where a naive "join then max(ts<=t)"
    // would build every (purchase x earlier-click) pair before reducing.
    // Time is compared in epoch micros on both engines (the parquet ns
    // column truncates to Spark's micros TIMESTAMP; event_id breaks the
    // vanishing sub-micro ties deterministically).
    "e6_asof_attribution" -> ((s, d) => {
      val ev = events(s, d).select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("tus"), col("event_type"), col("value"))
      val tagged = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("tus"), col("event_id"),
          col("event_id").as("click_id"), col("value").as("click_value"))
        .unionByName(ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("tus"), col("event_id"),
            lit(null).cast("long").as("click_id"),
            lit(null).cast("double").as("click_value")))
      val w = Window.partitionBy("user_id").orderBy(col("tus"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      tagged
        .withColumn("cid", last(col("click_id"), ignoreNulls = true).over(w))
        .withColumn("cval", last(col("click_value"), ignoreNulls = true).over(w))
        .withColumn("cts",
          last(when(col("click_id").isNotNull, col("tus")), ignoreNulls = true).over(w))
        .filter(col("click_id").isNull)
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("cid").as("click_id"), col("cval").as("click_value"),
          expr("(tus - cts) div 1000").as("gap_ms"))
    }),

    // -- e18: FORWARD as-of join with tolerance ----------------------------
    // e6 answers "which click came BEFORE this purchase" (backward as-of);
    // e18 answers the converse attribution question — for every click,
    // the FIRST purchase at-or-after it within a 2-day horizon
    // (time-to-convert), LEFT semantics: unconverted clicks emit with
    // NULL. Same scale shape as e6: tag-union both event classes, ONE
    // shuffle on user_id, and ONE LINEAR window pass. The forward pick is
    // computed as a RUNNING `last` over DESCENDING (ts, event_id) order —
    // semantically identical to `first` over a forward
    // (currentRow..unboundedFollowing) frame, but Spark executes an
    // unbounded-following frame by rescanning the partition tail per row
    // (O(n²) per user), while the running (unboundedPreceding..currentRow)
    // frame folds each row once (O(n), e6's shape). In descending order
    // the frame holds exactly the rows at-or-after the click in event-time
    // order, and the running `last` non-null is the NEAREST such purchase
    // — the minimum gap — so the tolerance applies post-pick: if the
    // nearest is beyond the horizon, none qualifies. Ties at the same
    // microsecond resolve by event_id exactly as before (a same-ts
    // purchase with a smaller id sorts AFTER the click descending, i.e.
    // outside the frame, and is correctly excluded) — the oracle states
    // the identical row-value rule.
    "e18_asof_forward" -> ((s, d) => {
      val horizonUs = 2L * 86400 * 1000000
      val ev = events(s, d).select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("tus"), col("event_type"))
      val tagged = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("tus"), col("event_id"),
          lit(null).cast("long").as("pid0"))
        .unionByName(ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("tus"), col("event_id"),
            col("event_id").as("pid0")))
      val w = Window.partitionBy("user_id")
        .orderBy(col("tus").desc, col("event_id").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val hit = col("pts").isNotNull && (col("pts") - col("tus")) <= horizonUs
      tagged
        .withColumn("pid", last(col("pid0"), ignoreNulls = true).over(w))
        .withColumn("pts",
          last(when(col("pid0").isNotNull, col("tus")), ignoreNulls = true).over(w))
        .filter(col("pid0").isNull)
        .select(col("event_id").as("click_id"), col("user_id"),
          when(hit, col("pid")).as("purchase_id"),
          when(hit, expr("(pts - tus) div 1000")).as("gap_ms"))
    }),

    // -- e19: U-shaped multi-touch attribution ------------------------------
    // e6/e18 credit ONE click per purchase (nearest before / first after);
    // real marketing attribution splits a conversion across EVERY click
    // in the lookback window — the position-based ("U-shaped") rule:
    // first touch 40%, last touch 40%, middles share the remaining 20%
    // (single click takes 100%, a pair 50/50). Needs ALL clicks within
    // 7 days before each purchase, which is a RANGE join — the classic
    // quadratic trap. Same cure as the interval query below: bucket time
    // by the horizon (7 d), purchases probe exactly 2 buckets (their own
    // + previous — a 2x fanout equi-join on (user_id, bucket) covers any
    // window ≤ one horizon), the range predicate filters inside the
    // bucket. A click meets a purchase through exactly ONE bucket, so no
    // post-join dedup. Ranks/counts are windows per purchase_id,
    // bounded by one user's 7-day click volume, never global. Credit
    // arithmetic is mirrored IEEE: 0.4/0.5/1.0 are exact doubles and the
    // middle share is one double division stated identically in the
    // oracle (whose bare 0.2 literal would be DECIMAL division — cast
    // explicitly).
    "e19_attribution" -> ((s, d) => {
      val horizonUs = 7L * 86400 * 1000000
      val ev = events(s, d).select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("tus"), col("event_type"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          col("tus").as("cts"))
        .withColumn("bkt", expr(s"cts div ${horizonUs}L"))
      val pur = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          col("tus").as("pts"))
        .withColumn("pb", expr(s"pts div ${horizonUs}L"))
        .withColumn("bkt", explode(array(col("pb") - 1, col("pb"))))
      val w = Window.partitionBy("purchase_id")
      val wr = w.orderBy(col("cts"), col("click_id"))
      pur.join(clicks, Seq("user_id", "bkt"))
        .filter(col("cts") >= col("pts") - horizonUs && col("cts") < col("pts"))
        .withColumn("rnk", row_number().over(wr))
        .withColumn("n", count(lit(1)).over(w))
        .select(col("purchase_id"), col("click_id"), col("rnk").cast("long").as("touch"),
          when(col("n") === 1, lit(1.0))
            .when(col("n") === 2, lit(0.5))
            .when(col("rnk") === 1 || col("rnk") === col("n"), lit(0.4))
            .otherwise(lit(0.2) / (col("n") - 2)).as("credit"))
    }),

    // -- range (interval containment) join, bucketed -----------------------
    // intervals = each user's first week of activity; count events inside.
    // A naive t BETWEEN lo AND hi theta-join is quadratic per key pair at
    // scale. The bucketed pattern: explode each interval into the DAY
    // buckets it covers (bounded fan-out: 8 buckets/week), equality-join
    // on (user_id, day), then apply the exact containment filter — an
    // equality shuffle with per-bucket candidates, never a cartesian.
    // -- Spark's NATIVE session_window (vs e2's manual window form) --------
    // gap-merge semantics at microsecond precision: session_window merges
    // windows that overlap OR TOUCH, so an event at EXACTLY last + 30:00
    // stays in the same session (equality merges — pinned by the
    // pathological events sweep, which plants an exactly-30-minute chain);
    // the oracle states the same strict-> rule in integer microseconds
    // (epoch_us), matching e2's manual form, so the boundary behavior is
    // bit-identical. Value sums go through the decimal cast so reduction
    // order cannot perturb the hash.
    "e8_session_window" -> ((s, d) =>
      events(s, d)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,4)")).cast("decimal(38,4)")
            .cast("double").as("sum_value"))
        .select(col("user_id"),
          unix_micros(col("sw.start")).as("start_us"),
          unix_micros(col("sw.end")).as("end_us"),
          col("n_events"), col("sum_value"))),

    // -- sliding window: 6-hour windows every 3 hours ----------------------
    // each event lands in exactly two windows; the oracle reproduces the
    // epoch-aligned window starts with integer microsecond arithmetic
    "e9_sliding_window" -> ((s, d) =>
      events(s, d)
        .groupBy(window(col("ts"), "6 hours", "3 hours").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,4)")).cast("decimal(38,4)")
            .cast("double").as("sum_value"))
        .select(unix_micros(col("w.start")).as("start_us"),
          unix_micros(col("w.end")).as("end_us"),
          col("event_type"), col("n"), col("sum_value"))),

    "e7_range_join" -> ((s, d) => {
      val ev = events(s, d)
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("tus"))
      val day = 86400L * 1000000L
      val week = 7L * day
      val iv = ev.groupBy("user_id")
        .agg(min(col("tus")).as("lo"))
        .withColumn("hi", col("lo") + week)
      val ivB = iv.select(col("user_id"), col("lo"), col("hi"),
        explode(sequence(expr(s"lo div $day"), expr(s"hi div $day"))).as("bkt"))
      val evB = ev.withColumn("bkt", expr(s"tus div $day"))
      evB.join(ivB, Seq("user_id", "bkt"))
        .filter(col("tus") >= col("lo") && col("tus") <= col("hi"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_in_week"),
          countDistinct(col("event_id")).as("n_distinct"))
    }),

    // -- e10: ordered conversion funnel (view -> click -> purchase) -------
    // per user: first view, first click strictly AFTER that view, first
    // purchase strictly after that click — the sequential-pattern query
    // product analytics runs constantly and SQL has no native operator
    // for. Three stage-filtered min-aggregations chained by user_id
    // equi-joins: each stage's input is the type-filtered slice (a
    // fraction of the stream) and every join/agg shares the user_id
    // shuffle key, so the stages co-partition and the funnel tables only
    // shrink. No window over the full stream, no per-user event sort.
    "e10_funnel" -> ((s, d) => {
      val ev = events(s, d).select(col("user_id"),
        unix_micros(col("ts")).as("tus"), col("event_type"))
      val v = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("tus").as("v_us"))
      val c = ev.filter(col("event_type") === "click").join(v, "user_id")
        .filter(col("tus") > col("v_us"))
        .groupBy("user_id").agg(min("tus").as("c_us"))
      val p = ev.filter(col("event_type") === "purchase").join(c, "user_id")
        .filter(col("tus") > col("c_us"))
        .groupBy("user_id").agg(min("tus").as("p_us"))
      v.join(c, Seq("user_id"), "left")
        .join(p, Seq("user_id"), "left")
        .select(col("user_id"), col("v_us"), col("c_us"), col("p_us"),
          (lit(1) + when(col("c_us").isNotNull, 1).otherwise(0) +
            when(col("p_us").isNotNull, 1).otherwise(0)).as("stage"))
    }),

    // -- e11: retention cohort matrix -------------------------------------
    // users cohorted by first-activity week; cell (cohort, offset) counts
    // distinct users active `offset` weeks after their cohort week. The
    // (user, week) distinct happens FIRST (collapses the event stream to
    // at most users x weeks rows), then one broadcast-sized cohort join
    // and one matrix-sized aggregation — the event table is touched once,
    // and nothing downstream of the distinct scales with event volume.
    "e11_retention" -> ((s, d) => {
      val week = 7L * 86400L * 1000000L
      val uw = events(s, d)
        .select(col("user_id"),
          expr(s"unix_micros(ts) div ${week}L").as("wk"))
        .distinct()
      val cohort = uw.groupBy("user_id").agg(min("wk").as("cohort"))
      uw.join(cohort, "user_id")
        .groupBy(col("cohort"), (col("wk") - col("cohort")).as("offset"))
        .agg(countDistinct(col("user_id")).as("users"))
    }),

    // -- e12: DAU / trailing-7-day WAU stickiness -------------------------
    // a trailing-window DISTINCT count can't ride an ordinary window
    // frame (distinct isn't decomposable over frames); the scalable form
    // is a bounded fan-out: each (user, day) row votes for the 7 window
    // days it keeps the user active in, then one distinct + one count per
    // day. Fan-out is exactly 7x the (user, day) DISTINCT table — already
    // collapsed from the raw stream — never 7x the events. Integer
    // stickiness (dau*100 div wau) keeps both engines exact.
    "e12_dau_wau" -> ((s, d) => {
      val day = 86400L * 1000000L
      val uw = events(s, d)
        .select(col("user_id"), expr(s"unix_micros(ts) div ${day}L").as("dy"))
        .distinct()
      val dau = uw.groupBy("dy").agg(countDistinct(col("user_id")).as("dau"))
      val wau = uw
        .select(col("user_id"), explode(sequence(col("dy"), col("dy") + 6)).as("wd"))
        .distinct()
        .groupBy("wd").agg(countDistinct(col("user_id")).as("wau"))
      dau.join(wau, col("dy") === col("wd"))
        .select(col("dy"), col("dau"), col("wau"),
          expr("dau * 100 div wau").as("stickiness_pct"))
    }),

    // -- e13: event-type transition matrix --------------------------------
    // the Markov-chain summary sequence models train against: per-user
    // adjacent event pairs (one lead window, keyed and shuffled on
    // user_id exactly like the sessionizer) collapse to a |types|^2
    // count table — everything after the window scales with the number
    // of DISTINCT event types, not events. Probabilities in integer
    // basis points (n*10000 div row_total) keep both engines exact.
    "e13_transitions" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val tr = events(s, d)
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .filter(col("next_type").isNotNull)
      val cnt = tr.groupBy(col("event_type").as("from_type"),
          col("next_type").as("to_type"))
        .agg(count(lit(1)).as("n"))
      val tot = cnt.groupBy("from_type").agg(sum(col("n")).as("tot"))
      cnt.join(tot, "from_type")
        .select(col("from_type"), col("to_type"), col("n"),
          expr("n * 10000 div tot").as("prob_bp"))
    }),

    // -- e14: 3-sigma daily-volume anomaly flags ---------------------------
    // the monitoring query every ingest pipeline runs: per event type,
    // flag days whose count exceeds mean + 3 * population stddev. The
    // test is INTEGER algebra — n > S/D + 3*sqrt((DQ-S^2)/D^2) rewritten
    // as nD > S AND (nD-S)^2 > 9(DQ-S^2) — so both engines compare exact
    // integers (squares in decimal(38,0): no ANSI overflow at any daily
    // volume). Everything after the first agg scales with |types| x days,
    // not events. A deterministic x10 spike on dy%16==5 plants anomalies
    // at every sf.
    "e14_anomaly" -> ((s, d) => {
      val day = 86400L * 1000000L
      val daily0 = events(s, d)
        .select(col("event_type"), expr(s"unix_micros(ts) div ${day}L").as("dy"))
        .groupBy("event_type", "dy").agg(count(lit(1)).as("n0"))
      val daily = daily0.select(col("event_type"), col("dy"),
        when(col("dy") % 16 === 5, col("n0") * 10).otherwise(col("n0")).as("n"))
      val stats = daily.groupBy("event_type").agg(
        count(lit(1)).as("dcnt"),
        sum(col("n").cast("decimal(38,0)")).as("sn"),
        sum((col("n") * col("n")).cast("decimal(38,0)")).as("qn"))
      daily.join(stats, "event_type")
        .filter(col("n") * col("dcnt") > col("sn") &&
          (col("n") * col("dcnt") - col("sn")) * (col("n") * col("dcnt") - col("sn")) >
            lit(9) * (col("dcnt") * col("qn") - col("sn") * col("sn")))
        .select(col("event_type"), col("dy"), col("n"))
    }),

    // -- e15: exponentially-decayed engagement score -----------------------
    // the feature-store recency score (half-life weighting): each event
    // contributes 2^-(age_weeks) of a unit. FP exp() sums are order-
    // dependent, so the half-life is realized as exact DYADIC integers —
    // weight = 1 << (12 - age_weeks) for ages up to 12 weeks, 0 beyond —
    // making the per-user sum order-independent integer math (score/4096
    // is the conventional float). "now" is max(ts) over the table — a
    // broadcast scalar (the x4 pattern); scoring is one map-side-combined
    // agg keyed on user_id. Nothing scales with anything but |events|.
    "e15_decay_score" -> ((s, d) => {
      val day = 86400L * 1000000L
      val ev = events(s, d)
        .select(col("user_id"), expr(s"unix_micros(ts) div ${day}L").as("dy"))
      val now = ev.agg(max(col("dy")).as("now_dy"))
      ev.crossJoin(broadcast(now))
        .withColumn("agew", expr("(now_dy - dy) div 7"))
        .withColumn("wgt", when(col("agew") <= 12,
          expr("shiftleft(1L, cast(12 - agew as int))")).otherwise(0L))
        .groupBy("user_id")
        .agg(sum(col("wgt")).as("score"), count(lit(1)).as("n_events"))
    }),

    // -- e16: semi-structured props extraction -----------------------------
    // every event pipeline carries a JSON properties blob; the engine must
    // type it without a pre-scan. `from_json` with an explicit DDL schema
    // parses each row exactly once into a typed struct (no inference scan
    // over the corpus — the f8 rationale), then the agg is ordinary
    // map-side-combined integer math. Malformed rows become NULL k and
    // survive as such (PERMISSIVE), they don't kill the job.
    "e16_json_props" -> ((s, d) => {
      val k = from_json(col("props"), "k BIGINT",
        Map.empty[String, String]).getField("k")
      events(s, d).select(col("event_type"), k.as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
          countDistinct(col("k")).as("n_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"))
    })
  )

  def oracles: Map[String, String] = {
    val base = baseOracles
    // the streaming twins must land EXACTLY the batch answer, so they share
    // the batch oracles verbatim — same SQL string, same hash
    base +
      ("es2_stream_sessionize" -> base("e2_sessionize")) +
      // per-batch capture variant: union across batch_id partitions must
      // STILL be exactly the batch answer (timing pinned in spec)
      ("es2a_sessionize_batches" -> base("e2_sessionize")) +
      ("es3_stream_funnel" -> base("e10_funnel")) +
      // native session-window streaming agg == batch e8 (same oracle)
      ("es17_stream_session_window" -> base("e8_session_window")) +
      // out-of-order bridging replay converges to the SAME fixpoint
      ("es17b_stream_session_ooo" -> base("e8_session_window")) +
      ("es18_session_window_append" -> base("e8_session_window")) +
      // streaming exact dedup under ordered replay (with every 10th doc
      // re-ingested later at doc_id+1e6) == batch min-doc_id dedup
      ("es4_stream_dedup" ->
        """WITH st AS (
          |  SELECT doc_id, text FROM documents
          |  UNION ALL
          |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0)
          |SELECT md5(text) AS h, MIN(doc_id) AS keeper
          |FROM st GROUP BY md5(text)""".stripMargin) +
      // streaming ingest curation: quality gates + first-occurrence dedup
      ("es5_stream_curate" ->
        """WITH st AS (
          |  SELECT doc_id, text FROM documents
          |  UNION ALL
          |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0),
          |q AS (
          |  SELECT doc_id, text FROM st
          |  WHERE len(string_split(text, ' ')) BETWEEN 10 AND 2000
          |    AND len(list_filter(string_split(text, ' '),
          |          w -> w IN ('the', 'a', 'of', 'and', 'in', 'to'))) >= 1)
          |SELECT md5(text) AS h, MIN(doc_id) AS keeper
          |FROM q GROUP BY md5(text)""".stripMargin) +
      // streaming LSH near-dup gate: the band arithmetic is ONE shared
      // builder (Dedup.sqlBandCtesSeq) applied to the static index
      // corpus and the replayed stream corpus; the gate's answer is the
      // batch band left-join over the two
      ("es16_stream_lsh_dedup" -> {
        val corpora = Seq(
          "idxc AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0)",
          """strc AS (
            |  SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
            |  UNION ALL
            |  SELECT doc_id + (SELECT GREATEST(MAX(doc_id) + 1, 100000) FROM documents)
            |    AS doc_id,
            |         array_to_string(ws[1:greatest(len(ws)-3, 1)], ' ') AS text
            |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
            |        WHERE doc_id % 2 = 0 AND doc_id % 10 = 0)
            |)""".stripMargin)
        "WITH " + (corpora ++ Dedup.sqlBandCtesSeq("idxc", "i") ++
          Dedup.sqlBandCtesSeq("strc", "s")).mkString(",\n") +
          """
            |SELECT s.doc_id, CAST(COUNT(i.doc_id) AS BIGINT) AS n_hits,
            |       CASE WHEN COUNT(i.doc_id) = 0 THEN 1 ELSE 0 END AS novel
            |FROM sband s LEFT JOIN iband i ON s.bid = i.bid AND s.bh = i.bh
            |GROUP BY s.doc_id""".stripMargin
      }) +
      // streaming k-mer counter == batch g1 (same oracle, same hash)
      ("es6_stream_kmer_count" -> Genomics.oracles("g1_kmer_count")) +
      // running user stats fixpoint == plain batch GROUP BY (e1's
      // decimal(18,2) summing convention)
      ("es7_stream_user_stats" ->
        """SELECT user_id, COUNT(*) AS n_events,
          |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
          |FROM events GROUP BY user_id""".stripMargin) +
      // update-mode per-batch capture, last-write-wins reconstruction —
      // the final emission per user must be the plain batch GROUP BY
      ("es7a_user_stats_batches" ->
        """SELECT user_id, COUNT(*) AS n_events,
          |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
          |FROM events GROUP BY user_id""".stripMargin) +
      // stream-stream interval join on a bounded ordered replay == the
      // batch interval join (micros-exact bounds, 2-day window)
      ("es9_stream_stream_join" ->
        """SELECT c.event_id AS click_id, p.event_id AS purchase_id,
          |  c.user_id, (epoch_us(p.ts) - epoch_us(c.ts)) // 1000 AS gap_ms
          |FROM events c JOIN events p
          |  ON c.user_id = p.user_id
          | AND c.event_type = 'click' AND p.event_type = 'purchase'
          | AND epoch_us(p.ts) >= epoch_us(c.ts)
          | AND epoch_us(p.ts) <= epoch_us(c.ts)
          |       + CAST(2 AS BIGINT) * 86400 * 1000000""".stripMargin) +
      // per-batch capture variant of es9 — same interval-join oracle
      ("es9a_ssjoin_batches" ->
        """SELECT c.event_id AS click_id, p.event_id AS purchase_id,
          |  c.user_id, (epoch_us(p.ts) - epoch_us(c.ts)) // 1000 AS gap_ms
          |FROM events c JOIN events p
          |  ON c.user_id = p.user_id
          | AND c.event_type = 'click' AND p.event_type = 'purchase'
          | AND epoch_us(p.ts) >= epoch_us(c.ts)
          | AND epoch_us(p.ts) <= epoch_us(c.ts)
          |       + CAST(2 AS BIGINT) * 86400 * 1000000""".stripMargin) +
      // stream-stream LEFT OUTER: matched pairs == the batch interval
      // join; unmatched clicks emit iff finalized by the deterministic
      // end-of-replay watermark (min of both sides' max ts − 3 days).
      // Spark tracks event-time watermarks at MILLISECOND granularity
      // (max event time truncated µs→ms before the delay subtracts), so
      // the oracle's watermark basis truncates to ms the same way — a
      // µs-precise basis would sit up to 999 µs ahead and could flip a
      // row landing exactly in that band across the strict '<'.
      ("es10_stream_outer_join" ->
        """WITH c AS (SELECT event_id AS click_id, user_id, ts AS cts
          |           FROM events WHERE event_type = 'click'),
          |p AS (SELECT event_id AS purchase_id, user_id AS p_user, ts AS pts
          |      FROM events WHERE event_type = 'purchase'),
          |wm AS (SELECT (least((SELECT epoch_us(MAX(cts)) FROM c),
          |                     (SELECT epoch_us(MAX(pts)) FROM p)) // 1000
          |               - CAST(3 AS BIGINT) * 86400 * 1000) * 1000 AS w_us),
          |m AS (SELECT c.click_id, p.purchase_id, c.user_id,
          |        (epoch_us(pts) - epoch_us(cts)) // 1000 AS gap_ms, c.cts
          |      FROM c JOIN p ON c.user_id = p.p_user
          |       AND epoch_us(pts) >= epoch_us(cts)
          |       AND epoch_us(pts) <= epoch_us(cts)
          |             + CAST(2 AS BIGINT) * 86400 * 1000000)
          |SELECT click_id, purchase_id, user_id, gap_ms FROM m
          |UNION ALL
          |SELECT c.click_id, NULL, c.user_id, NULL
          |FROM c
          |WHERE c.click_id NOT IN (SELECT click_id FROM m)
          |  AND epoch_us(c.cts) + CAST(2 AS BIGINT) * 86400 * 1000000
          |        < (SELECT w_us FROM wm)""".stripMargin) +
      // stream-stream FULL OUTER: both null-emission rules stated over
      // the deterministic end-of-replay watermark (ms-truncated basis,
      // same rationale as es10)
      ("es11_stream_full_outer" ->
        """WITH c AS (SELECT event_id AS click_id, user_id, ts AS cts
          |           FROM events WHERE event_type = 'click'),
          |p AS (SELECT event_id AS purchase_id, user_id AS p_user, ts AS pts
          |      FROM events WHERE event_type = 'purchase'),
          |wm AS (SELECT (least((SELECT epoch_us(MAX(cts)) FROM c),
          |                     (SELECT epoch_us(MAX(pts)) FROM p)) // 1000
          |               - CAST(3 AS BIGINT) * 86400 * 1000) * 1000 AS w_us),
          |m AS (SELECT c.click_id, p.purchase_id, c.user_id,
          |        (epoch_us(pts) - epoch_us(cts)) // 1000 AS gap_ms
          |      FROM c JOIN p ON c.user_id = p.p_user
          |       AND epoch_us(pts) >= epoch_us(cts)
          |       AND epoch_us(pts) <= epoch_us(cts)
          |             + CAST(2 AS BIGINT) * 86400 * 1000000)
          |SELECT click_id, purchase_id, user_id, gap_ms FROM m
          |UNION ALL
          |SELECT c.click_id, NULL, c.user_id, NULL
          |FROM c
          |WHERE c.click_id NOT IN (SELECT click_id FROM m)
          |  AND epoch_us(c.cts) + CAST(2 AS BIGINT) * 86400 * 1000000
          |        < (SELECT w_us FROM wm)
          |UNION ALL
          |SELECT NULL, p.purchase_id, p.p_user, NULL
          |FROM p
          |WHERE p.purchase_id NOT IN (SELECT purchase_id FROM m)
          |  AND epoch_us(p.pts) < (SELECT w_us FROM wm)""".stripMargin) +
      // stream-static broadcast enrich + rollup == the same batch join
      ("es8_stream_enrich" ->
        """SELECT coalesce(c_mktsegment, '<none>') AS segment,
          |  COUNT(*) AS n,
          |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS total
          |FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
          |GROUP BY 1""".stripMargin) +
      // streaming dq fixpoint == batch conditional aggregates
      ("es15_stream_dq" ->
        """SELECT event_type, COUNT(*) AS n,
          |  CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_null_user,
          |  CAST(SUM(CASE WHEN value IS NULL OR value < 0 OR value > 1e9
          |           THEN 1 ELSE 0 END) AS BIGINT) AS v_value_range,
          |  CAST(SUM(CASE WHEN ts IS NULL OR ts < TIMESTAMP '2020-01-01'
          |           OR ts >= TIMESTAMP '2030-01-01' THEN 1 ELSE 0 END) AS BIGINT) AS v_ts_window,
          |  strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS first_seen,
          |  strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS last_seen
          |FROM events GROUP BY event_type""".stripMargin)
  }

  private def baseOracles: Map[String, String] = Map(
    "e1_hourly_agg" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour, event_type,
        |  COUNT(*) AS n,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS total
        |FROM events GROUP BY 1, 2""".stripMargin,
    // streaming pipeline, identical answer — same oracle as e1 by design
    "es1_stream_hourly" -> sqlHourlyTotals,
    // backend-invariance: RocksDB state store must land the identical table
    "es13_stream_rocksdb" -> sqlHourlyTotals,
    "e17_scd2" ->
      """WITH g AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN LAG(event_type) OVER w IS NULL
        |           OR LAG(event_type) OVER w <> event_type THEN 1 ELSE 0 END AS chg
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |r AS (
        |  SELECT user_id, ts, event_type,
        |    SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                   ROWS UNBOUNDED PRECEDING) AS run
        |  FROM g),
        |runs AS (
        |  SELECT user_id, run, MIN(event_type) AS event_type,
        |         MIN(ts) AS from_ts, COUNT(*) AS n_events
        |  FROM r GROUP BY user_id, run)
        |SELECT user_id, CAST(run AS BIGINT) AS run, event_type,
        |  strftime(from_ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
        |  strftime(LEAD(from_ts) OVER (PARTITION BY user_id ORDER BY run),
        |           '%Y-%m-%d %H:%M:%S') AS valid_to,
        |  n_events
        |FROM runs""".stripMargin,
    "e2_sessionize" ->
      """WITH g AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN epoch_ms(ts) - LAG(epoch_ms(ts)) OVER w IS NULL
        |           OR epoch_ms(ts) - LAG(epoch_ms(ts)) OVER w > 30 * 60 * 1000
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |),
        |sess AS (
        |  SELECT user_id, ts,
        |    CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM g
        |)
        |SELECT user_id, session_id, COUNT(*) AS n_events,
        |  MAX(epoch_ms(ts)) - MIN(epoch_ms(ts)) AS dur_ms,
        |  strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS start_ts
        |FROM sess GROUP BY user_id, session_id""".stripMargin,
    // json_valid guard: the engine's get_json_object is permissive (null
    // on malformed props) where DuckDB's json_extract THROWS — real
    // corpora contain broken JSON, so the oracle must be total too.
    // TRY_CAST, not CAST: the engine's .cast("long") yields NULL on
    // non-integer k values ("1.5", "abc") where a strict DuckDB CAST
    // would abort the whole oracle query.
    "e3_json_props" ->
      """SELECT event_type,
        |  CAST(SUM(CASE WHEN props IS NOT NULL AND json_valid(props)
        |           THEN TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) END)
        |       AS BIGINT) AS sum_k,
        |  COUNT(DISTINCT user_id) AS n_users
        |FROM events GROUP BY event_type""".stripMargin,
    "e4_tumbling_6h" ->
      """SELECT strftime(time_bucket(INTERVAL '6 hours', ts), '%Y-%m-%d %H:%M:%S') AS bucket,
        |  event_type, COUNT(*) AS n
        |FROM events GROUP BY 1, 2""".stripMargin,
    "e5_first_touch" ->
      """SELECT user_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS first_ts,
        |  event_type AS first_type, n
        |FROM (SELECT user_id, ts, event_id, event_type,
        |        ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
        |        COUNT(*) OVER (PARTITION BY user_id) AS n
        |      FROM events)
        |WHERE rn = 1""".stripMargin,
    "e6_asof_attribution" ->
      """WITH ev AS (SELECT event_id, user_id, epoch_us(ts) AS tus, event_type, value
        |            FROM events),
        |tagged AS (
        |  SELECT user_id, tus, event_id,
        |    CASE WHEN event_type = 'click' THEN event_id END AS click_id,
        |    CASE WHEN event_type = 'click' THEN value END AS click_value
        |  FROM ev WHERE event_type IN ('click', 'purchase')),
        |w AS (
        |  SELECT *,
        |    last_value(click_id IGNORE NULLS) OVER win AS cid,
        |    last_value(click_value IGNORE NULLS) OVER win AS cval,
        |    last_value(CASE WHEN click_id IS NOT NULL THEN tus END IGNORE NULLS)
        |      OVER win AS cts
        |  FROM tagged
        |  WINDOW win AS (PARTITION BY user_id ORDER BY tus, event_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT event_id AS purchase_id, user_id, cid AS click_id,
        |  cval AS click_value, (tus - cts) // 1000 AS gap_ms
        |FROM w WHERE click_id IS NULL""".stripMargin,
    // forward mirror of e6, same window trick with a following frame;
    // the 2-day tolerance nulls the pick (the nearest-forward purchase is
    // the minimum gap, so beyond-horizon means no qualifying purchase)
    "e18_asof_forward" ->
      """WITH ev AS (SELECT event_id, user_id, epoch_us(ts) AS tus, event_type
        |            FROM events),
        |tagged AS (
        |  SELECT user_id, tus, event_id,
        |    CASE WHEN event_type = 'purchase' THEN event_id END AS pid0
        |  FROM ev WHERE event_type IN ('click', 'purchase')),
        |w AS (
        |  SELECT *,
        |    first_value(pid0 IGNORE NULLS) OVER win AS pid,
        |    first_value(CASE WHEN pid0 IS NOT NULL THEN tus END IGNORE NULLS)
        |      OVER win AS pts
        |  FROM tagged
        |  WINDOW win AS (PARTITION BY user_id ORDER BY tus, event_id
        |                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT event_id AS click_id, user_id,
        |  CASE WHEN pts - tus <= CAST(2 AS BIGINT) * 86400 * 1000000
        |       THEN pid END AS purchase_id,
        |  CASE WHEN pts - tus <= CAST(2 AS BIGINT) * 86400 * 1000000
        |       THEN (pts - tus) // 1000 END AS gap_ms
        |FROM w WHERE pid0 IS NULL""".stripMargin,
    // plain range-join statement of the same rule; the CAST on 0.2 keeps
    // the middle share in DOUBLE (a bare 0.2 is DECIMAL in DuckDB)
    "e19_attribution" ->
      """WITH ev AS (SELECT event_id, user_id, epoch_us(ts) AS tus, event_type
        |            FROM events),
        |c AS (SELECT user_id, event_id AS click_id, tus AS cts FROM ev
        |      WHERE event_type = 'click'),
        |p AS (SELECT user_id, event_id AS purchase_id, tus AS pts FROM ev
        |      WHERE event_type = 'purchase'),
        |j AS (SELECT p.purchase_id, c.click_id, c.cts
        |      FROM p JOIN c ON p.user_id = c.user_id
        |        AND c.cts >= p.pts - CAST(7 AS BIGINT) * 86400 * 1000000
        |        AND c.cts < p.pts),
        |r AS (SELECT purchase_id, click_id,
        |        ROW_NUMBER() OVER (PARTITION BY purchase_id
        |                           ORDER BY cts, click_id) AS rnk,
        |        COUNT(*) OVER (PARTITION BY purchase_id) AS n
        |      FROM j)
        |SELECT purchase_id, click_id, rnk AS touch,
        |  CASE WHEN n = 1 THEN 1.0
        |       WHEN n = 2 THEN 0.5
        |       WHEN rnk = 1 OR rnk = n THEN 0.4
        |       ELSE CAST(0.2 AS DOUBLE) / (n - 2) END AS credit
        |FROM r""".stripMargin,
    "e9_sliding_window" ->
      """WITH e AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_type, value FROM events),
        |buck AS (
        |  SELECT us - (us % 10800000000) AS ws, event_type, value FROM e
        |  UNION ALL
        |  SELECT us - (us % 10800000000) - 10800000000, event_type, value FROM e)
        |SELECT ws AS start_us, ws + 21600000000 AS end_us, event_type,
        |  COUNT(*) AS n,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS DOUBLE) AS sum_value
        |FROM buck GROUP BY ws, event_type""".stripMargin,
    "e8_session_window" ->
      """WITH e AS (SELECT user_id, event_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us, value FROM events),
        |g AS (
        |  SELECT user_id, event_id, us, value,
        |    CASE WHEN us - LAG(us) OVER w IS NULL
        |           OR us - LAG(us) OVER w > 30 * 60 * 1000000
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |sess AS (
        |  SELECT user_id, us, value,
        |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
        |                        ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM g)
        |SELECT user_id, MIN(us) AS start_us,
        |  MAX(us) + 30 * 60 * 1000000 AS end_us,
        |  COUNT(*) AS n_events,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS DOUBLE) AS sum_value
        |FROM sess GROUP BY user_id, sid""".stripMargin,
    "e7_range_join" ->
      """WITH ev AS (SELECT event_id, user_id, epoch_us(ts) AS tus FROM events),
        |iv AS (SELECT user_id, MIN(tus) AS lo, MIN(tus) + 604800000000 AS hi
        |       FROM ev GROUP BY user_id)
        |SELECT e.user_id, COUNT(*) AS n_in_week,
        |       COUNT(DISTINCT e.event_id) AS n_distinct
        |FROM ev e JOIN iv i ON e.user_id = i.user_id
        |WHERE e.tus >= i.lo AND e.tus <= i.hi
        |GROUP BY e.user_id""".stripMargin,
    "e10_funnel" ->
      """WITH ev AS (SELECT user_id, epoch_us(ts) AS tus, event_type FROM events),
        |v AS (SELECT user_id, MIN(tus) AS v_us FROM ev
        |      WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT ev.user_id, MIN(tus) AS c_us FROM ev
        |      JOIN v ON ev.user_id = v.user_id
        |      WHERE event_type = 'click' AND tus > v_us GROUP BY ev.user_id),
        |p AS (SELECT ev.user_id, MIN(tus) AS p_us FROM ev
        |      JOIN c ON ev.user_id = c.user_id
        |      WHERE event_type = 'purchase' AND tus > c_us GROUP BY ev.user_id)
        |SELECT v.user_id, v.v_us, c.c_us, p.p_us,
        |  1 + CASE WHEN c.c_us IS NULL THEN 0 ELSE 1 END
        |    + CASE WHEN p.p_us IS NULL THEN 0 ELSE 1 END AS stage
        |FROM v LEFT JOIN c ON v.user_id = c.user_id
        |LEFT JOIN p ON v.user_id = p.user_id""".stripMargin,
    "e11_retention" ->
      """WITH uw AS (SELECT DISTINCT user_id,
        |    epoch_us(ts) // 604800000000 AS wk FROM events),
        |cohort AS (SELECT user_id, MIN(wk) AS cohort FROM uw GROUP BY user_id)
        |SELECT c.cohort, u.wk - c.cohort AS offset,
        |  COUNT(DISTINCT u.user_id) AS users
        |FROM uw u JOIN cohort c ON u.user_id = c.user_id
        |GROUP BY c.cohort, u.wk - c.cohort""".stripMargin,
    "e12_dau_wau" ->
      """WITH uw AS (SELECT DISTINCT user_id,
        |    epoch_us(ts) // 86400000000 AS dy FROM events),
        |dau AS (SELECT dy, COUNT(DISTINCT user_id) AS dau FROM uw GROUP BY dy),
        |fan AS (SELECT DISTINCT user_id, dy + o AS wd
        |        FROM uw, (SELECT unnest(generate_series(0, 6)) AS o) os),
        |wau AS (SELECT wd, COUNT(DISTINCT user_id) AS wau FROM fan GROUP BY wd)
        |SELECT d.dy, d.dau, w.wau, d.dau * 100 // w.wau AS stickiness_pct
        |FROM dau d JOIN wau w ON d.dy = w.wd""".stripMargin,
    "e13_transitions" ->
      """WITH tr AS (SELECT event_type,
        |    LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS next_type
        |  FROM events),
        |cnt AS (SELECT event_type AS from_type, next_type AS to_type,
        |    COUNT(*) AS n
        |  FROM tr WHERE next_type IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS tot
        |  FROM cnt GROUP BY 1)
        |SELECT c.from_type, c.to_type, c.n, c.n * 10000 // t.tot AS prob_bp
        |FROM cnt c JOIN tot t ON c.from_type = t.from_type""".stripMargin,
    "e14_anomaly" ->
      """WITH d0 AS (SELECT event_type, epoch_us(ts) // 86400000000 AS dy,
        |    COUNT(*) AS n0
        |  FROM events GROUP BY 1, 2),
        |daily AS (SELECT event_type, dy,
        |    CASE WHEN dy % 16 = 5 THEN n0 * 10 ELSE n0 END AS n FROM d0),
        |stats AS (SELECT event_type, COUNT(*) AS dcnt,
        |    SUM(n)::HUGEINT AS sn, SUM(n * n)::HUGEINT AS qn
        |  FROM daily GROUP BY 1)
        |SELECT d.event_type, d.dy, d.n
        |FROM daily d JOIN stats s ON d.event_type = s.event_type
        |WHERE d.n * s.dcnt > s.sn
        |  AND (d.n * s.dcnt - s.sn) * (d.n * s.dcnt - s.sn)
        |      > 9 * (s.dcnt * s.qn - s.sn * s.sn)""".stripMargin,
    "e15_decay_score" ->
      """WITH ev AS (SELECT user_id, epoch_us(ts) // 86400000000 AS dy FROM events),
        |nw AS (SELECT MAX(dy) AS now_dy FROM ev),
        |w AS (SELECT user_id, (now_dy - dy) // 7 AS agew FROM ev CROSS JOIN nw)
        |SELECT user_id,
        |  CAST(SUM(CASE WHEN agew <= 12 THEN CAST(1 AS BIGINT) << (12 - agew)
        |                ELSE 0 END) AS BIGINT) AS score,
        |  COUNT(*) AS n_events
        |FROM w GROUP BY user_id""".stripMargin,
    // e16's engine is from_json with a TYPED schema (k BIGINT): a JSON
    // string "9" is a type mismatch and parses to NULL — unlike e3's
    // permissive extract-then-cast. The oracle states the same typed rule
    // via json_type (integer-typed values only; DuckDB types EVERY
    // non-negative integer as UBIGINT, so both names stay). TRY_CAST,
    // not CAST: a k in (2^63-1, 2^64) is UBIGINT-typed but overflows
    // BIGINT — Spark's from_json NULLs it in PERMISSIVE mode, and
    // TRY_CAST degrades the oracle to the same NULL instead of crashing.
    "e16_json_props" ->
      """WITH e AS (SELECT event_type,
        |    CASE WHEN props IS NOT NULL AND json_valid(props)
        |           AND json_type(props, '$.k') IN ('BIGINT', 'UBIGINT')
        |         THEN TRY_CAST(json_extract(props, '$.k') AS BIGINT) END AS k
        |    FROM events)
        |SELECT event_type, COUNT(*) AS n, CAST(SUM(k) AS BIGINT) AS sum_k,
        |  COUNT(DISTINCT k) AS n_k, MIN(k) AS min_k, MAX(k) AS max_k
        |FROM e GROUP BY event_type""".stripMargin
  )
}
