package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.streaming.{Replay, ReplayRunner}

/** Lakehouse-layout operators: the table-layout and summary-maintenance
  * moves a 100 TB deployment makes so that queries stop paying for the
  * lake's size — bucketed co-located joins (pay the fact-table shuffle
  * ONCE at write time, then every orderkey join is exchange-free) and
  * incremental summary maintenance (the daily pipeline folds only the new
  * partition into mergeable per-group state; the historical raw data is
  * never rescanned).
  *
  * Both are oracle-gated on their RESULTS; the structural claims (no
  * Exchange under the bucketed join, delta-only scan for the incremental
  * pass) are pinned by LakehouseSpec / PlanAuditSpec.
  */
object Lakehouse extends QueryFamily {
  private val D2 = "decimal(18,2)"

  private def ioDir(d: String) =
    graft.Scratch.dir(d)

  /** Demo-setup writes (the materialized views x11/x12 maintain) run once
    * per (path) per JVM — a real lake HAS the view already; re-paying the
    * from-scratch join on every invocation would make bench warm-ups and
    * plan-audit calls measure setup+maintenance instead of the
    * maintenance path being claimed. JVM-local (not a `_SUCCESS` probe)
    * so a code change can never be masked by a stale on-disk view. */
  private val viewWritten = scala.collection.mutable.Set[String]()
  /** es14/es21's CDC feed over orders: the base snapshot (every order
    * at version 0) and four ordered micro-batches. Batch 2 supersedes
    * batch 1's update of the same keys and deletes others, batch 3
    * resurrects some deleted keys, batch 4 inserts disjoint new keys. */
  private def upsertFeed(s: SparkSession, d: String): (DataFrame, Seq[DataFrame]) = {
    val src = orders(s, d)
    val base = src.select(col("o_orderkey").as("okey"),
      col("o_orderstatus").as("status"),
      col("o_totalprice").cast(D2).as("price"),
      lit(0L).as("version"), lit("U").as("op"))
    val batches = Seq(
      src.filter(col("o_orderkey") % 10 === 3)
        .select(col("o_orderkey").as("okey"), lit("U2").as("status"),
          (col("o_totalprice").cast(D2) + lit(1).cast(D2)).cast(D2).as("price"),
          lit(1L).as("version"), lit("U").as("op")),
      src.filter(col("o_orderkey") % 10 === 7)
        .select(col("o_orderkey").as("okey"),
          lit(null).cast("string").as("status"), lit(null).cast(D2).as("price"),
          lit(2L).as("version"), lit("D").as("op"))
        .unionByName(src.filter(col("o_orderkey") % 10 === 3)
          .select(col("o_orderkey").as("okey"), lit("U3").as("status"),
            (col("o_totalprice").cast(D2) + lit(2).cast(D2)).cast(D2).as("price"),
            lit(2L).as("version"), lit("U").as("op"))),
      src.filter(col("o_orderkey") % 100 === 7)
        .select(col("o_orderkey").as("okey"), lit("R").as("status"),
          col("o_totalprice").cast(D2).as("price"),
          lit(3L).as("version"), lit("U").as("op")),
      src.filter(col("o_orderkey") % 10 === 2)
        .select((col("o_orderkey") + 20000000L).as("okey"), lit("I").as("status"),
          col("o_totalprice").cast(D2).as("price"),
          lit(4L).as("version"), lit("U").as("op")))
    (base, batches)
  }

  private def writeViewOnce(path: String)(write: => Unit): Unit =
    synchronized { if (viewWritten.add(path)) write }

  /** Net change feed over an upsert log (okey, status, price, version,
    * op) for the interval (vFrom, latest]: both version images come out
    * of ONE hash aggregate (max(struct(version,…)) overall = post image,
    * the same max gated to version ≤ vFrom = pre image), then a
    * row-local explode types the change — one scan, one keyed shuffle,
    * no snapshot self-join. Net semantics: insert+delete inside the
    * interval emits nothing; delete+resurrect to identical values
    * emits nothing. Exposed for LakehouseSpec's crafted-log cases. */
  private[operators] def changeFeed(log: DataFrame, vFrom: Long): DataFrame = {
    val st = struct(col("version"), col("op"), col("status"), col("price"))
    val chT = s"array<struct<change_type:string,status:string,price:$D2>>"
    log.groupBy("okey")
      .agg(max(when(col("version") <= vFrom, st)).as("wa"), max(st).as("wb"))
      .select(col("okey"),
        (col("wa").isNotNull && col("wa.op") =!= "D").as("in_pre"),
        (col("wb.op") =!= "D").as("in_post"),
        col("wa.status").as("ps"), col("wa.price").as("pp"),
        col("wb.status").as("ns"), col("wb.price").as("np"))
      .select(col("okey"), explode(
        when(!col("in_pre") && col("in_post"), array(struct(
          lit("insert").as("change_type"), col("ns").as("status"),
          col("np").as("price"))))
        .when(col("in_pre") && !col("in_post"), array(struct(
          lit("delete").as("change_type"), col("ps").as("status"),
          col("pp").as("price"))))
        .when(col("in_pre") && col("in_post") &&
            (!(col("ps") <=> col("ns")) || !(col("pp") <=> col("np"))),
          array(
            struct(lit("update_preimage").as("change_type"),
              col("ps").as("status"), col("pp").as("price")),
            struct(lit("update_postimage").as("change_type"),
              col("ns").as("status"), col("np").as("price"))))
        .otherwise(array().cast(chT))).as("ch"))
      .select(col("okey"), col("ch.change_type").as("change_type"),
        col("ch.status").as("status"),
        col("ch.price").cast("double").as("price"))
  }

  /** es22's per-micro-batch publish: read the current snapshot version and
    * CAS-commit the staged dir as this partition's new data. Losers rebase
    * (partitions are disjoint across writers); a retried batch republishes
    * the SAME staged dir — one extra manifest version, identical content —
    * which is the replace-partition idempotence OccStreamSpec pins. */
  private[graft] def occCommitBatch(root: String, partition: String, dir: String): Int = {
    val snap = graft.sources.OccLog.readLatest(root).version
    graft.sources.OccLog.commitReplacePartition(root, partition, dir, snap)
  }

  /** es23's per-micro-batch verification: m7's verdict rules (same
    * precedence, same planted %97==13 corruption, declared length = char
    * count) over a batch of payload rows — returns ONLY the quarantine
    * rows. Shared with OccStreamSpec's kill-restart test so the spec
    * exercises the exact production verdict path. */
  private[graft] def quarantineBatch(b: DataFrame): DataFrame =
    b.select(col("doc_id"), col("source"),
        octet_length(col("text").cast("binary")).cast("long").as("n_bytes"),
        md5(col("text").cast("binary")).as("observed_md5"),
        col("n_chars"),
        when(col("doc_id") % 97 === 13, lit("0" * 32))
          .otherwise(md5(col("text").cast("binary"))).as("declared_md5"))
      .withColumn("verdict",
        when(col("n_bytes") === 0, "empty")
          .when(col("observed_md5") =!= col("declared_md5"), "checksum_mismatch")
          .when(col("n_bytes") =!= col("n_chars"), "size_mismatch")
          .otherwise("ok"))
      .filter(col("verdict") =!= "ok")
      .select("doc_id", "source", "n_bytes", "verdict")

  /** The quarantine table's schema — used to read manifest entries that
    * may be EMPTY parquet dirs (a batch with no defects still commits). */
  private[operators] val quarSchema =
    org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id bigint, source string, n_bytes bigint, verdict string")

  /** es21 bucket width: okey div 2^19 names a bucket. Range (not hash)
    * buckets so inserts into a fresh key range touch FRESH buckets and the
    * existing snapshot files are carried forward untouched. Bucket count
    * scales with key-range/W — i.e. with file count, metadata-sized. */
  private[operators] val BUK_W = 1L << 19

  /** v0 bootstrap: one partitioned write; manifest maps bucket → leaf dir. */
  private[operators] def bucketedInit(base: DataFrame, snapDir: String): Map[Long, String] = {
    base.withColumn("bk", (col("okey") / BUK_W).cast("long"))
      .write.partitionBy("bk").mode("overwrite").parquet(s"$snapDir/v0")
    new java.io.File(s"$snapDir/v0").listFiles().toSeq
      .filter(f => f.isDirectory && f.getName.startsWith("bk="))
      .map(f => f.getName.stripPrefix("bk=").toLong -> f.getAbsolutePath)
      .toMap
  }

  /** Read the union of the given buckets' current files (absent buckets —
    * a fresh insert range — contribute nothing). */
  private[operators] def bucketedRead(s: SparkSession, manifest: Map[Long, String],
      buckets: Set[Long]): DataFrame = {
    val dirs = buckets.toSeq.sorted.flatMap(manifest.get)
    if (dirs.isEmpty)
      s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType.fromDDL(
          s"okey bigint, status string, price $D2, version bigint, op string"))
    else s.read.parquet(dirs: _*)
      .select("okey", "status", "price", "version", "op")
  }

  /** Copy-on-write commit: rewrite ONLY touched buckets (old-bucket rows
    * minus batch keys, plus the batch — batch versions are monotone per
    * key so no aggregate is needed), then return the new manifest with
    * every untouched bucket still pointing at its OLD dir. One broadcast
    * anti-join + one partitioned write; zero snapshot-sized shuffles. */
  private[operators] def bucketedAdvance(s: SparkSession, manifest: Map[Long, String],
      batch: DataFrame, verDir: String, touched: Set[Long]): Map[Long, String] = {
    val next = bucketedRead(s, manifest, touched)
      .join(broadcast(batch.select("okey")), Seq("okey"), "leftanti")
      .unionByName(batch.select("okey", "status", "price", "version", "op"))
    next.withColumn("bk", (col("okey") / BUK_W).cast("long"))
      .write.partitionBy("bk").mode("overwrite").parquet(verDir)
    val rewritten = new java.io.File(verDir).listFiles().toSeq
      .filter(f => f.isDirectory && f.getName.startsWith("bk="))
      .map(f => f.getName.stripPrefix("bk=").toLong -> f.getAbsolutePath)
      .toMap
    manifest ++ rewritten
  }

  /** f23 fixture: generation 0 = days 1–15 partitioned BY DAY, generation
    * 1 = days 16+ partitioned BY WEEK (dayk kept as a data column — the
    * spec change alters layout, not content). Keys are letter-prefixed so
    * partition-value inference cannot retype them. */
  private[operators] def partEvoWrite(s: SparkSession, d: String, root: String): Unit =
    writeViewOnce(root) {
      val ev = events(s, d).select(col("event_id"), col("user_id"), col("ts"))
        .withColumn("dayk", concat(lit("d"), date_format(col("ts"), "yyyyMMdd")))
        .withColumn("weekk",
          concat(lit("w"), expr("cast((dayofmonth(ts) - 1) div 7 + 1 as string)")))
      ev.filter(expr("dayofmonth(ts) <= 15"))
        .select("event_id", "user_id", "dayk")
        .write.partitionBy("dayk").mode("overwrite").parquet(s"$root/gen0")
      ev.filter(expr("dayofmonth(ts) > 15"))
        .select("event_id", "user_id", "dayk", "weekk")
        .write.partitionBy("weekk").mode("overwrite").parquet(s"$root/gen1")
    }

  /** Union read across both partition specs; an optional day predicate is
    * rewritten PER SPEC: gen 0 gets it as a day partition filter, gen 1
    * as the transformed week partition filter + a data-level day filter. */
  private[operators] def partEvoRead(s: SparkSession, root: String,
      day: Option[String]): DataFrame = {
    val g0full = s.read.option("basePath", s"$root/gen0").parquet(s"$root/gen0")
    val g1full = s.read.option("basePath", s"$root/gen1").parquet(s"$root/gen1")
    val g0 = day.fold(g0full)(dk => g0full.filter(col("dayk") === dk))
    val g1 = day.fold(g1full) { dk =>
      val dom = dk.substring(7).toInt // "dyyyymmDD"
      g1full.filter(col("weekk") === s"w${(dom - 1) / 7 + 1}" &&
        col("dayk") === dk)
    }
    g0.select("dayk", "event_id", "user_id")
      .unionByName(g1.select("dayk", "event_id", "user_id"))
  }

  /** Mergeable per-(event_type, user-bucket) summary state: row counts and
    * exact decimal cents merge by SUM, the HLL register by MAX — the three
    * merge laws that make the state composable across arbitrary batch
    * splits (LakehouseSpec proves merge(state(A), state(B)) == state(A+B)
    * for any split). Bucket/rho reuse the engine-wide deterministic md5
    * hash shape ([[Sketches]] x2), so the oracle rebuilds the identical
    * registers from the raw table. */
  private[operators] def eventState(ev: DataFrame): DataFrame = {
    val h = md5(col("user_id").cast("string").cast("binary"))
    ev.select(col("event_type"),
        substring(h, 1, 2).as("bucket"),
        (Sketches.leadingZeroBits(substring(h, 3, 8)) + 1).as("rho"),
        col("value").cast(D2).as("cents"))
      .groupBy("event_type", "bucket")
      .agg(count(lit(1)).as("n_events"),
        sum(col("cents")).cast("decimal(38,2)").as("total"),
        max(col("rho")).cast("long").as("r"))
  }

  /** Bucket-wise merge of [[eventState]] tables: SUM/SUM/MAX. */
  private[operators] def mergeEventState(states: DataFrame*): DataFrame =
    states.reduce(_ unionByName _)
      .groupBy("event_type", "bucket")
      .agg(sum(col("n_events")).as("n_events"),
        sum(col("total")).cast("decimal(38,2)").as("total"),
        max(col("r")).as("r"))

  /** x15 internals, exposed for the spec: returns (hotKeys, maintained
    * view). `hotKeys` is the recompute-on-retract key set — the spec
    * asserts it is exactly the groups whose extremum a retraction could
    * have removed (every (purchase, bucket) group and every signup group
    * by construction of the change batch), and the plan pin asserts the
    * post-state base scan feeds ONLY a broadcast semi-join against it. */
  private[graft] def x15MinMaxIvm(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val viewDir = s"${ioDir(d)}/x15_view"
    val ev = events(s, d).select(col("event_id"), col("user_id"),
      (col("user_id") % 8).as("bucket"), col("event_type"),
      col("value").as("v"))
    val base = ev.filter(col("event_id") % 10 =!= 9)
    def state(rows: DataFrame): DataFrame =
      rows.groupBy(col("event_type"), col("bucket"))
        .agg(count(lit(1)).as("n_events"),
          max(col("v")).as("max_v"), min(col("v")).as("min_v"))
    writeViewOnce(viewDir) {
      state(base).write.mode("overwrite").parquet(viewDir)
    }
    val v0 = s.read.parquet(viewDir)
    // ---- the signed change batch (setup: "the CDC batch arriving") ----
    // inserts (+1, arriving non-signup rows ending in 9), point deletes
    // (-1, rows ending in 2), +1.0 value updates (-old +new, rows ending
    // in 3), the signup whole-group purge, and the guaranteed extremum
    // retraction: every bucket's max-value purchase row not already
    // classed as a delete/update (those retract the same extremum through
    // their own class — either way EVERY purchase bucket goes hot)
    val notSignup = col("event_type") =!= "signup"
    val isDel = col("event_id") % 10 === 2
    val isUpd = col("event_id") % 10 === 3
    val cols = Seq("event_id", "user_id", "bucket", "event_type", "v", "sign")
      .map(col)
    val pmax = base.filter(col("event_type") === "purchase")
      .groupBy(col("bucket")).agg(max(col("v")).as("mv"))
    val isMaxDel = col("event_type") === "purchase" && !isDel && !isUpd &&
      col("v") === col("mv")
    val maxDel = base.join(broadcast(pmax), Seq("bucket")).filter(isMaxDel)
      .withColumn("sign", lit(-1L)).select(cols: _*)
    val ins = ev.filter(col("event_id") % 10 === 9 && notSignup)
      .withColumn("sign", lit(1L)).select(cols: _*)
    val del = base.filter(isDel && notSignup)
      .withColumn("sign", lit(-1L)).select(cols: _*)
    val purge = base.filter(col("event_type") === "signup")
      .withColumn("sign", lit(-1L)).select(cols: _*)
    val updOld = base.filter(isUpd && notSignup)
      .withColumn("sign", lit(-1L)).select(cols: _*)
    val updNew = updOld.withColumn("v", col("v") + lit(1.0)).select(cols: _*)
      .withColumn("sign", lit(1L)).select(cols: _*)
    val delta = ins.unionByName(del).unionByName(purge)
      .unionByName(updOld).unionByName(updNew).unionByName(maxDel)
    // ---- maintenance (the claimed path) ----
    // per-touched-group delta summary: group-count-bounded, broadcast
    val dSum = delta.groupBy(col("event_type"), col("bucket"))
      .agg(sum(col("sign")).as("dn"),
        max(when(col("sign") > 0, col("v"))).as("ins_max"),
        min(when(col("sign") > 0, col("v"))).as("ins_min"),
        max(when(col("sign") < 0, col("v"))).as("ret_max"),
        min(when(col("sign") < 0, col("v"))).as("ret_min"))
    val touchedKeys = dSum.select(col("event_type"), col("bucket"))
    val untouched = v0.join(broadcast(touchedKeys),
      Seq("event_type", "bucket"), "left_anti")
    // touched view state is touched-bounded; join it back onto the
    // broadcast delta summary (left outer: new groups keep null v0 state)
    val v0touched = v0.join(broadcast(touchedKeys),
      Seq("event_type", "bucket"), "left_semi")
    val merged = dSum.join(broadcast(v0touched),
      Seq("event_type", "bucket"), "left")
    val hot = coalesce(
      col("ret_max") >= col("max_v") || col("ret_min") <= col("min_v"),
      lit(false))
    val hotKeys = merged.filter(col("n_events").isNotNull && hot)
      .select(col("event_type"), col("bucket"))
    // cold path: pure state fold, no scan (greatest/least skip nulls)
    val safe = merged.filter(col("n_events").isNotNull && !hot)
      .select(col("event_type"), col("bucket"),
        (col("n_events") + col("dn")).as("n_events"),
        greatest(col("max_v"), col("ins_max")).as("max_v"),
        least(col("min_v"), col("ins_min")).as("min_v"))
      .filter(col("n_events") > 0)
    // brand-new groups: insert-only by construction
    val fresh = merged.filter(col("n_events").isNull)
      .select(col("event_type"), col("bucket"), col("dn").as("n_events"),
        col("ins_max").as("max_v"), col("ins_min").as("min_v"))
      .filter(col("n_events") > 0)
    // hot path: recompute ONLY the hot groups from the POST-STATE base
    // table — in a real lake the CDC batch has already been MERGEd into
    // the base (x9's operation) by the time view maintenance runs, so the
    // post-state is a stored table, materialized here once as setup. The
    // maintenance plan scans it exactly once, semi-joined to the
    // broadcast hot keys BEFORE the aggregate (plan-pinned in
    // PlanAuditSpec: one x15_post relation, under a LeftSemi broadcast
    // join) — O(rows of hot groups), never O(|base|). A purged group has
    // zero post-state rows and simply emits nothing, dropping out.
    val postDir = s"${ioDir(d)}/x15_post"
    writeViewOnce(postDir) {
      base.join(broadcast(pmax), Seq("bucket"), "left")
        .filter(notSignup && !isDel && !coalesce(isMaxDel, lit(false)))
        .withColumn("v", col("v") + when(isUpd, lit(1.0)).otherwise(lit(0.0)))
        .select(col("event_id"), col("user_id"), col("bucket"),
          col("event_type"), col("v"))
        .unionByName(ins.drop("sign"))
        .write.mode("overwrite").parquet(postDir)
    }
    val recomputed = state(s.read.parquet(postDir)
      .join(broadcast(hotKeys), Seq("event_type", "bucket"), "left_semi"))
    val out = Seq("event_type", "bucket", "n_events", "max_v", "min_v").map(col)
    (hotKeys,
      untouched.select(out: _*)
        .unionByName(safe.select(out: _*))
        .unionByName(fresh.select(out: _*))
        .unionByName(recomputed.select(out: _*)))
  }

  /** x17 internals, exposed for the spec: returns (hotRegs, maintained
    * view). Generalizes x15's recompute-on-retract seam from semigroup
    * SCALARS to sketch STATE: a per-(source, bucket) HLL register is a
    * MAX over token rho values — inserts fold register-wise (max is a
    * semigroup, duplicate-insensitive, so the fold needs no distinct and
    * no scan), but HLL is NOT invertible, so a retraction can only be
    * handled by recomputing the registers it could have set. A register
    * goes HOT iff some retracted token's rho TIES the stored value
    * (rho < r means a surviving token owns the register; rho > r is
    * impossible since retracted rows are base rows). Hot registers
    * recompute from the post-state base semi-joined to the broadcast hot
    * set BEFORE the aggregate (plan-pinned) — O(rows of hot sources),
    * never O(|base|). A purged source has every register hot and zero
    * post-state rows, so it drops out of the view entirely. */
  private[graft] def x17HllIvm(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val viewDir = s"${ioDir(d)}/x17_view"
    val postDir = s"${ioDir(d)}/x17_post"
    // token -> (bucket, rho) exactly as x2/x5 (md5 bucket byte + leading
    // zero bits); MAX over rho is insensitive to token multiplicity, so
    // none of these aggregates needs the x5 DISTINCT pass
    def tokRegs(rows: DataFrame): DataFrame = {
      val h = md5(col("tok").cast("binary"))
      rows.select(col("source"), explode(split(col("text"), " ")).as("tok"))
        .select(col("source"), substring(h, 1, 2).as("bucket"),
          (Sketches.leadingZeroBits(substring(h, 3, 8)) + 1).as("rho"))
    }
    def regs(rows: DataFrame): DataFrame =
      tokRegs(rows).groupBy("source", "bucket")
        .agg(max(col("rho")).cast("long").as("r"))
    val docs = documents(s, d).select(col("doc_id"), col("source"), col("text"))
    val purged = col("source") === "src7"
    val base = docs.filter(col("doc_id") % 10 =!= 9)
    writeViewOnce(viewDir) {
      regs(base).write.mode("overwrite").parquet(viewDir)
    }
    val v0 = s.read.parquet(viewDir)
    // the change batch: inserts (arriving non-purged docs ending in 9),
    // point deletes (docs ending in 2), and the src7 whole-source purge
    val ins = docs.filter(col("doc_id") % 10 === 9 && !purged)
    val del = base.filter(col("doc_id") % 10 === 2 && !purged)
    val purge = base.filter(purged)
    // delta-sized register contributions of each side
    val insRegs = regs(ins).withColumnRenamed("r", "ins_r")
    val retRegs = regs(del.unionByName(purge)).withColumnRenamed("r", "ret_r")
    // hot detection is a register-count-bounded broadcast join
    val hotRegs = v0.join(broadcast(retRegs), Seq("source", "bucket"))
      .filter(col("ret_r") >= col("r"))
      .select(col("source"), col("bucket"))
    // cold path: pure register-wise max fold of surviving stored registers
    // and insert contributions — state-sized, no base scan
    val cold = v0
      .join(broadcast(hotRegs), Seq("source", "bucket"), "left_anti")
      .select(col("source"), col("bucket"), col("r"))
      .unionByName(insRegs
        .join(broadcast(hotRegs), Seq("source", "bucket"), "left_anti")
        .select(col("source"), col("bucket"), col("ins_r").as("r")))
      .groupBy("source", "bucket").agg(max(col("r")).as("r"))
    // post-state base: the CDC batch already MERGEd (as for x15)
    writeViewOnce(postDir) {
      docs.filter(!purged && col("doc_id") % 10 =!= 2)
        .write.mode("overwrite").parquet(postDir)
    }
    // hot path: ONE scan of the post-state, semi-joined to the broadcast
    // hot set BEFORE the register aggregate
    val recomputed = tokRegs(s.read.parquet(postDir))
      .join(broadcast(hotRegs), Seq("source", "bucket"), "left_semi")
      .groupBy("source", "bucket").agg(max(col("rho")).cast("long").as("r"))
    (hotRegs, cold.unionByName(recomputed))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // -- x17: HLL sketch-state IVM — recompute-on-retract -------------------
    // the sketch-state generalization of x15 (semigroup registers instead
    // of semigroup scalars): maintained per-source HLL registers under
    // inserts (register-wise max fold) and retractions (non-invertible ->
    // hot registers recompute from the post-state, LeftSemi-guarded).
    // Must land exactly on the from-scratch x5 registers of the
    // post-state corpus — the oracle states that in closed form.
    "x17_hll_ivm_recompute" -> ((s, d) => x17HllIvm(s, d)._2),

    // -- f12: bucketed tables -> exchange-free co-located join -------------
    // the write pays one hash shuffle per table INTO the bucket layout
    // (8 buckets on the join key, sorted within); after that, every
    // orderkey-equi-join between the two tables runs with ZERO exchanges —
    // each task zips bucket i of lineitem with bucket i of orders. At
    // 100 TB this converts the nightly fact-to-fact join from the
    // cluster's largest shuffle into a local merge per bucket. The plan
    // property (no ShuffleExchange between the scans and the join) is
    // pinned by LakehouseSpec; here the joined result goes through the
    // oracle gate. Bucket counts must match on both sides — the layout
    // contract the catalog carries.
    "f12_bucketed_join" -> ((s, d) => {
      val dir = s"${ioDir(d)}/bucketed"
      val sf = new java.io.File(d).getName.replace('.', '_')
      val ot = s"graft_orders_b_$sf"
      val lt = s"graft_lineitem_b_$sf"
      s.sql(s"DROP TABLE IF EXISTS $ot")
      s.sql(s"DROP TABLE IF EXISTS $lt")
      orders(s, d).select(col("o_orderkey"), col("o_orderpriority"))
        .write.mode("overwrite").bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey").option("path", s"$dir/orders")
        .format("parquet").saveAsTable(ot)
      lineitem(s, d)
        .select(col("l_orderkey"), col("l_extendedprice").cast(D2).as("price"))
        .write.mode("overwrite").bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey").option("path", s"$dir/lineitem")
        .format("parquet").saveAsTable(lt)
      s.table(lt)
        .join(s.table(ot), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("price")).cast("decimal(38,2)").cast("double").as("revenue"))
    }),

    // -- x8: incremental summary maintenance (merge old state + delta) -----
    // the materialized-view move: the per-(event_type, bucket) state built
    // over the historical partition is PERSISTED (here: written to parquet
    // and read back — the stored summary a real deployment keeps in its
    // lake); when the new day's partition lands, the pipeline computes
    // state over the DELTA ONLY and folds it in with the merge laws
    // (SUM counts, SUM exact cents, MAX registers). The merged table must
    // equal a full recompute over all raw data — which is exactly what the
    // oracle states over the whole events table. The delta scan carries a
    // pushed ts-predicate (PlanAuditSpec) — at 100 TB that is partition
    // pruning: the morning run reads one day, not the lake.
    "x8_incremental_agg" -> ((s, d) => {
      val stateDir = s"${ioDir(d)}/x8_state"
      val cutoff = lit("2024-01-22 00:00:00").cast("timestamp")
      val ev = events(s, d)
      eventState(ev.filter(col("ts") < cutoff))
        .write.mode("overwrite").parquet(stateDir)
      val old = s.read.parquet(stateDir)
      val delta = eventState(ev.filter(col("ts") >= cutoff))
      // exact decimal state internally; double only at the edge (the
      // engine-wide convention for oracle-compared aggregates)
      mergeEventState(old, delta)
        .withColumn("total", col("total").cast("double"))
    }),

    // -- x11: incremental view maintenance of a JOIN ------------------------
    // the join half of the IVM story (x8 maintains an AGGREGATE): a
    // materialized orders⋈customer view is brought up to date after both
    // sides receive an insert batch, WITHOUT re-running the big×big join.
    // The insert-only delta rule is exact for inner joins:
    //   ΔV = ΔO⋈C₀ ∪ O₀⋈ΔC ∪ ΔO⋈ΔC,  V' = V₀ ∪ ΔV.
    // Every maintenance join has a DELTA on one side, so it is planned as
    // a broadcast hash join of the delta against the base (pinned in
    // PlanAuditSpec — the base×base join runs ZERO times during
    // maintenance; V₀ is read back from its materialized parquet exactly
    // as a lake view would be). At 100 TB the deltas are a day's
    // ingestion against years of base — this plan shape is the entire
    // point of materializing the view. Result must equal the from-scratch
    // join of the full tables (the oracle states exactly that).
    "x11_join_ivm" -> ((s, d) => {
      val viewDir = s"${ioDir(d)}/x11_view"
      val o = orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice").cast(D2).as("price"))
      val c = customer(s, d).select(col("c_custkey"),
        col("c_mktsegment").as("segment"))
      val oBase = o.filter(col("o_orderkey") % 10 =!= 9)
      val oDelta = o.filter(col("o_orderkey") % 10 === 9)
      val cBase = c.filter(col("c_custkey") % 10 =!= 4)
      val cDelta = c.filter(col("c_custkey") % 10 === 4)
      // the demo SETUP: materialize the view ONCE per JVM (a real lake
      // has it already). The RETURNED frame — what the plan pin and the
      // delta rule are about — reads it back from parquet; the
      // from-scratch join below happens at view creation, never at
      // maintenance, and repeated invocations (bench retimes, plan-audit
      // calls) exercise only the delta-broadcast maintenance path.
      writeViewOnce(viewDir) {
        oBase.join(cBase, col("o_custkey") === col("c_custkey"))
          .select(col("o_orderkey"), col("o_custkey"), col("segment"), col("price"))
          .write.mode("overwrite").parquet(viewDir)
      }
      val v0 = s.read.parquet(viewDir)
      val dv =
        broadcast(oDelta).join(cBase, col("o_custkey") === col("c_custkey"))
          .unionByName(
            oBase.join(broadcast(cDelta), col("o_custkey") === col("c_custkey")))
          .unionByName(
            broadcast(oDelta).join(cDelta, col("o_custkey") === col("c_custkey")))
          .select(col("o_orderkey"), col("o_custkey"), col("segment"), col("price"))
      v0.unionByName(dv)
        .withColumn("price", col("price").cast("double"))
    }),

    // -- x12: join IVM with RETRACTIONS (deletes + updates) -----------------
    // the half x11's insert-only rule cannot express: both sides receive a
    // MIXED batch (inserts, deletes, updates = delete+insert), and the
    // view is maintained by the signed-multiset delta rule
    //   Δ(O⋈C) = ΔO⋈C₀ + O₀⋈ΔC + ΔO⋈ΔC       (signs multiply),
    // which is exact for inner joins: expanding (O₀+ΔO)⋈(C₀+ΔC) leaves
    // precisely these three cross terms, and interaction cases (an updated
    // order whose customer was deleted in the same batch) cancel to net 0
    // by the sign algebra alone — no special-casing. Applying ΔV touches
    // only delta-bounded state: the affected keys are broadcast, untouched
    // view rows pass through an anti-join unread, and the net-multiplicity
    // consolidation groups ONLY the touched rows — maintenance cost is
    // O(|Δ|), never O(|V|). Every join broadcasts a delta (or the key set
    // derived from one); the base×base join runs zero times (plan-pinned
    // like x11). Result must equal the from-scratch join of the POST-state
    // tables — the oracle states exactly that.
    "x12_ivm_retract" -> ((s, d) => {
      val viewDir = s"${ioDir(d)}/x12_view"
      val o = orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice").cast(D2).as("price"))
      val c = customer(s, d).select(col("c_custkey"),
        col("c_mktsegment").as("segment"))
      // pre-state: orders ending in 9 are the incoming inserts
      val oBase = o.filter(col("o_orderkey") % 10 =!= 9)
      val cBase = c
      writeViewOnce(viewDir) {
        oBase.join(cBase, col("o_custkey") === col("c_custkey"))
          .select(col("o_orderkey"), col("o_custkey"), col("segment"), col("price"))
          .write.mode("overwrite").parquet(viewDir)
      }
      val v0 = s.read.parquet(viewDir)
      // signed deltas: insert +1 / delete -1 / update = -old +new
      val dO = o.filter(col("o_orderkey") % 10 === 9).withColumn("osign", lit(1L))
        .unionByName(oBase.filter(col("o_orderkey") % 10 === 2)
          .withColumn("osign", lit(-1L)))
        .unionByName(oBase.filter(col("o_orderkey") % 10 === 3)
          .withColumn("osign", lit(-1L)))
        .unionByName(oBase.filter(col("o_orderkey") % 10 === 3)
          .withColumn("price", (col("price") + lit(1).cast(D2)).cast(D2))
          .withColumn("osign", lit(1L)))
      val dC = cBase.filter(col("c_custkey") % 10 === 4).withColumn("csign", lit(-1L))
        .unionByName(cBase.filter(col("c_custkey") % 10 === 6)
          .withColumn("csign", lit(-1L)))
        .unionByName(cBase.filter(col("c_custkey") % 10 === 6)
          .withColumn("segment", lit("UPDATED")).withColumn("csign", lit(1L)))
      val dv =
        broadcast(dO).join(cBase.withColumn("csign", lit(1L)),
            col("o_custkey") === col("c_custkey"))
          .unionByName(oBase.withColumn("osign", lit(1L))
            .join(broadcast(dC), col("o_custkey") === col("c_custkey")))
          .unionByName(broadcast(dO)
            .join(dC, col("o_custkey") === col("c_custkey")))
          .select(col("o_orderkey"), col("o_custkey"), col("segment"),
            col("price"), (col("osign") * col("csign")).as("sign"))
      // apply ΔV per affected key: untouched rows never enter a shuffle
      val keys = dv.select(col("o_orderkey")).distinct()
      val untouched = v0.join(broadcast(keys), Seq("o_orderkey"), "left_anti")
      val touched = v0.join(broadcast(keys), Seq("o_orderkey"), "left_semi")
        .withColumn("sign", lit(1L))
        .unionByName(dv)
        .groupBy(col("o_orderkey"), col("o_custkey"), col("segment"), col("price"))
        .agg(sum(col("sign")).as("net"))
        .filter(col("net") > 0).drop("net")
      untouched.unionByName(touched)
        .withColumn("price", col("price").cast("double"))
    }),

    // -- x13: aggregate IVM with RETRACTIONS (deletes + updates) -----------
    // completes the IVM matrix: x8 = aggregate/insert-only, x11 =
    // join/insert-only, x12 = join/retractions, x13 = aggregate under a
    // MIXED signed batch. COUNT/SUM are abelian-group aggregates, so the
    // signed delta folds in directly: ΔV = Σ sign over the delta rows per
    // group, V' = V₀ + ΔV with groups whose count reaches ZERO removed —
    // the seam insert-only maintenance never exercises (a MAX/MIN view
    // would need per-group recompute on retraction; COUNT/SUM never do).
    // The batch includes a whole-group purge (every 'signup' event
    // retracted, inserts filtered to re-add none), so maintained groups
    // genuinely vanish rather than linger at n=0. Maintenance touches
    // only delta-bounded state: ΔV aggregates the delta rows alone, the
    // touched group keys broadcast, untouched view groups pass through an
    // anti-join unread — O(|Δ| + touched groups), never O(|V|). Result
    // must equal the from-scratch aggregate of the POST-state events (the
    // oracle states exactly that).
    "x13_agg_ivm_retract" -> ((s, d) => {
      val viewDir = s"${ioDir(d)}/x13_view"
      val ev = events(s, d).select(col("event_id"), col("user_id"),
        col("event_type"), col("value").cast(D2).as("cents"))
      val base = ev.filter(col("event_id") % 10 =!= 9)
      def state(rows: DataFrame): DataFrame =
        rows.groupBy(col("event_type"), (col("user_id") % 8).as("bucket"))
          .agg(count(lit(1)).as("n_events"),
            sum(col("cents")).cast("decimal(38,2)").as("total"))
      writeViewOnce(viewDir) {
        state(base).write.mode("overwrite").parquet(viewDir)
      }
      val v0 = s.read.parquet(viewDir)
      // the signed change batch: inserts (+1, arriving rows ending in 9,
      // none of them signups), point deletes (-1, base rows ending in 2),
      // value updates (-old +new, base rows ending in 3), and the
      // whole-type purge (-1 for EVERY base signup row)
      val notSignup = col("event_type") =!= "signup"
      val ins = ev.filter(col("event_id") % 10 === 9 && notSignup)
        .withColumn("sign", lit(1L))
      val del = base.filter(col("event_id") % 10 === 2 && notSignup)
        .withColumn("sign", lit(-1L))
      val purge = base.filter(col("event_type") === "signup")
        .withColumn("sign", lit(-1L))
      val updOld = base.filter(col("event_id") % 10 === 3 && notSignup)
        .withColumn("sign", lit(-1L))
      val updNew = updOld
        .withColumn("cents", (col("cents") + lit(1).cast(D2)).cast(D2))
        .withColumn("sign", lit(1L))
      val delta = ins.unionByName(del).unionByName(purge)
        .unionByName(updOld).unionByName(updNew)
      val dAgg = delta
        .groupBy(col("event_type"), (col("user_id") % 8).as("bucket"))
        .agg(sum(col("sign")).as("n_events"),
          sum((col("cents") * col("sign")).cast("decimal(38,2)"))
            .cast("decimal(38,2)").as("total"))
      val keys = dAgg.select(col("event_type"), col("bucket")).distinct()
      val untouched = v0.join(broadcast(keys),
        Seq("event_type", "bucket"), "left_anti")
      val touched = v0.join(broadcast(keys),
          Seq("event_type", "bucket"), "left_semi")
        .unionByName(dAgg)
        .groupBy(col("event_type"), col("bucket"))
        .agg(sum(col("n_events")).as("n_events"),
          sum(col("total")).cast("decimal(38,2)").as("total"))
        .filter(col("n_events") > 0)
      untouched.unionByName(touched)
        .withColumn("total", col("total").cast("double"))
    }),

    // -- x15: MAX/MIN aggregate IVM — recompute-on-retract ------------------
    // completes the IVM matrix at its last seam (named at x13: COUNT/SUM
    // fold signed deltas because they are abelian-GROUP aggregates; MAX/
    // MIN are only a SEMIGROUP — a retraction of the current extremum
    // cannot be folded out, the new extremum lives in the base data).
    // The maintenance rule:
    //   * inserts alone never force a scan: max' = greatest(max, insMax),
    //     min' = least(min, insMin) — pure state fold;
    //   * a retraction is HOT iff it could have removed the stored
    //     extremum (retMax >= max_v or retMin <= min_v) — only those
    //     groups are recomputed, FROM the post-state base SEMI-JOINED to
    //     the broadcast hot-key set (plan-pinned: the base scan feeds a
    //     BroadcastHashJoin LeftSemi before any aggregate), O(rows of hot
    //     groups), never O(|base|);
    //   * untouched view groups pass through a broadcast anti-join unread.
    // The change batch guarantees the hot path genuinely fires: besides
    // x13's point deletes / +1 updates / signup whole-group purge, it
    // retracts every bucket's maximum-value purchase row, so EVERY
    // (purchase, bucket) group and EVERY signup group is hot (the purge
    // drives its groups out of the view entirely — recompute over zero
    // post-state rows emits nothing). Result must equal the from-scratch
    // MAX/MIN/COUNT over the post-state events (the oracle states exactly
    // that). Doubles are safe here: MAX/MIN are order-independent (no
    // decimal detour needed) and +1.0 is exact IEEE in both engines.
    "x15_minmax_ivm_recompute" -> ((s, d) => x15MinMaxIvm(s, d)._2),

    // -- x9: CDC upsert — MERGE a change batch into a snapshot -------------
    // the lake-table maintenance primitive (Delta/Iceberg MERGE INTO):
    // a base snapshot plus a change batch of upserts and deletes becomes
    // the next snapshot. The scale-correct form is NOT a window (which
    // sorts every key group): rows carry a version, and the survivor per
    // key is ONE max_by(struct(version, ...)) hash aggregation —
    // map-side combinable, one shuffle of partial maxima, delete rows
    // filtered after the max. The change batch here is deterministic CDC
    // derived from orders itself: keys =3 (mod 10) get a price bump +
    // status 'U', keys =7 (mod 10) are deleted, and a disjoint key range
    // is inserted — all three verb classes live in one merge.
    "x9_cdc_upsert" -> ((s, d) => {
      val base = orders(s, d)
        .select(col("o_orderkey").as("okey"),
          col("o_orderstatus").as("status"),
          col("o_totalprice").cast(D2).as("price"),
          lit(0L).as("version"), lit("U").as("op"))
      val src = orders(s, d)
      val changes =
        src.filter(col("o_orderkey") % 10 === 3)
          .select(col("o_orderkey").as("okey"), lit("U2").as("status"),
            (col("o_totalprice").cast(D2) + lit(1).cast(D2)).cast(D2).as("price"),
            lit(1L).as("version"), lit("U").as("op"))
        .unionByName(src.filter(col("o_orderkey") % 10 === 7)
          .select(col("o_orderkey").as("okey"), lit(null).cast("string").as("status"),
            lit(null).cast(D2).as("price"), lit(1L).as("version"), lit("D").as("op")))
        .unionByName(src.filter(col("o_orderkey") % 10 === 1)
          .select((col("o_orderkey") + 10000000L).as("okey"), lit("I").as("status"),
            col("o_totalprice").cast(D2).as("price"), lit(1L).as("version"),
            lit("U").as("op")))
      base.unionByName(changes)
        .groupBy("okey")
        .agg(max(struct(col("version"), col("op"), col("status"), col("price")))
          .as("w"))
        .filter(col("w.op") =!= "D")
        .select(col("okey"), col("w.status").as("status"),
          col("w.price").cast("double").as("price"))
    }),

    // -- x16: change data feed between two table versions -------------------
    // Delta's `table_changes(t, v_from, v_to)` read path: what NET-changed
    // over a commit interval, as typed change rows — `insert` / `delete`
    // with one image, updates as the `update_preimage` + `update_postimage`
    // row PAIR downstream CDC consumers (x12-style IVM, replication,
    // audit) key on. The history is es14's 4-commit log over orders
    // (update, delete, second update, resurrect, disjoint insert), so the
    // feed exercises every verb including delete-then-resurrect collapsing
    // to an update. Scale shape: BOTH version images come out of ONE
    // hash aggregate over the log — max(struct(version,…)) overall for
    // the post image and the same max gated to version ≤ v_from for the
    // pre image — so the whole CDF is one scan + one keyed shuffle + a
    // row-local explode; no self-join of snapshots, no window sort. (A
    // production lake reads per-commit CDC files when present; this
    // snapshot-diff is exactly Delta's fallback for ranges without them,
    // and net-changes semantics means an insert+delete inside the
    // interval correctly emits nothing.)
    "x16_change_feed" -> ((s, d) => {
      val src = orders(s, d)
      val base = src.select(col("o_orderkey").as("okey"),
        col("o_orderstatus").as("status"),
        col("o_totalprice").cast(D2).as("price"),
        lit(0L).as("version"), lit("U").as("op"))
      val log = base
        .unionByName(src.filter(col("o_orderkey") % 10 === 3)
          .select(col("o_orderkey").as("okey"), lit("U2").as("status"),
            (col("o_totalprice").cast(D2) + lit(1).cast(D2)).cast(D2).as("price"),
            lit(1L).as("version"), lit("U").as("op")))
        .unionByName(src.filter(col("o_orderkey") % 10 === 7)
          .select(col("o_orderkey").as("okey"),
            lit(null).cast("string").as("status"), lit(null).cast(D2).as("price"),
            lit(2L).as("version"), lit("D").as("op")))
        .unionByName(src.filter(col("o_orderkey") % 10 === 3)
          .select(col("o_orderkey").as("okey"), lit("U3").as("status"),
            (col("o_totalprice").cast(D2) + lit(2).cast(D2)).cast(D2).as("price"),
            lit(2L).as("version"), lit("U").as("op")))
        .unionByName(src.filter(col("o_orderkey") % 100 === 7)
          .select(col("o_orderkey").as("okey"), lit("R").as("status"),
            col("o_totalprice").cast(D2).as("price"),
            lit(3L).as("version"), lit("U").as("op")))
        .unionByName(src.filter(col("o_orderkey") % 10 === 2)
          .select((col("o_orderkey") + 20000000L).as("okey"), lit("I").as("status"),
            col("o_totalprice").cast(D2).as("price"),
            lit(4L).as("version"), lit("U").as("op")))
      changeFeed(log, vFrom = 0L)
    }),

    // -- f14: snapshot manifests -> time travel ----------------------------
    // the versioned-table read path (Delta/Iceberg "AS OF"): every commit
    // appends data files and writes a MANIFEST — the authoritative list of
    // files active in that snapshot. Reading version v = reading exactly
    // manifest(v)'s files; history costs nothing to keep (old files are
    // never rewritten) and the manifest read is driver-side planning
    // bounded by file count. Here: commit 1 = even doc_ids, commit 2
    // appends the odd ones; the query reads BOTH snapshots through their
    // manifests and reports each one's aggregate — the v1 numbers must
    // equal the oracle's even-only branch even though the directory now
    // also holds v2's files (the property a raw directory scan loses).
    "f14_time_travel" -> ((s, d) => {
      val root = s"${ioDir(d)}/timetravel"
      val docs = documents(s, d).select(col("doc_id"), col("n_chars"))
      docs.filter(col("doc_id") % 2 === 0)
        .write.mode("overwrite").parquet(s"$root/c1")
      docs.filter(col("doc_id") % 2 =!= 0)
        .write.mode("overwrite").parquet(s"$root/c2")
      def files(sub: String): Seq[String] = {
        val fs = new java.io.File(s"$root/$sub")
        fs.listFiles().filter(_.getName.endsWith(".parquet"))
          .map(_.getAbsolutePath).sorted.toSeq
      }
      val m1 = files("c1")
      val m2 = m1 ++ files("c2")
      // write the manifests as real files (the table's commit log), then
      // plan each snapshot read from its manifest
      val log = new java.io.File(s"$root/_manifests")
      log.mkdirs()
      java.nio.file.Files.write(log.toPath.resolve("v1.txt"),
        m1.mkString("\n").getBytes("UTF-8"))
      java.nio.file.Files.write(log.toPath.resolve("v2.txt"),
        m2.mkString("\n").getBytes("UTF-8"))
      def snapshot(v: String): Seq[String] =
        new String(java.nio.file.Files.readAllBytes(
          log.toPath.resolve(s"$v.txt")), "UTF-8").split("\n").toSeq
      Seq("v1", "v2").map { v =>
        s.read.parquet(snapshot(v): _*)
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
          .select(lit(v).as("version"), col("n_docs"), col("total_chars"))
      }.reduce(_ unionByName _)
    }),

    // -- f15: small-file compaction (OPTIMIZE) -----------------------------
    // streaming/micro-batch ingest leaves a lake table as thousands of tiny
    // files; every reader then pays one task + one footer read per file, so
    // at 100 TB the file COUNT (not the byte count) becomes the scan
    // bottleneck. Compaction bin-packs the fragment set into target-size
    // files and commits the result as a NEW snapshot — the old files are
    // untouched (time travel to v1 still works, f14's property), only the
    // manifest changes. Data must survive bit-exactly: the query reads BOTH
    // snapshots and both must land on the oracle's full-table numbers.
    // The target file count derives from real bytes (sum(size)/target),
    // which is exactly how OPTIMIZE sizes its output.
    "f15_compaction" -> ((s, d) => {
      val root = s"${ioDir(d)}/compaction"
      val docs = documents(s, d).select(col("doc_id"), col("lang"), col("n_chars"))
      // fragmented ingest: 24 micro-batch commits' worth of small files
      docs.repartition(24).write.mode("overwrite").parquet(s"$root/small")
      val small = new java.io.File(s"$root/small").listFiles()
        .filter(_.getName.endsWith(".parquet"))
      val targetBytes = 512L * 1024
      val nOut = math.max(1,
        math.ceil(small.map(_.length).sum.toDouble / targetBytes).toInt)
      val v1 = small.map(_.getAbsolutePath).sorted.toSeq
      s.read.parquet(v1: _*).repartition(nOut)
        .write.mode("overwrite").parquet(s"$root/compact")
      val v2 = new java.io.File(s"$root/compact").listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .map(_.getAbsolutePath).sorted.toSeq
      Seq("v1" -> v1, "v2" -> v2).map { case (v, files) =>
        s.read.parquet(files: _*)
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
          .select(lit(v).as("version"), col("lang"), col("n_docs"),
            col("total_chars"))
      }.reduce(_ unionByName _)
    }),

    // -- f16: deletion vectors (merge-on-read DELETE) ----------------------
    // deleting k rows from an immutable lake file by rewrite costs the
    // whole file; a DELETION VECTOR instead records the positions
    // (file, row_index) of the dead rows in a sidecar and the READ applies
    // them — delete cost O(|deleted|), zero data files touched, and the
    // eventual compaction (f15) folds the DV in. The vector is POSITIONAL,
    // not a predicate: it can kill one copy of two identical rows
    // (LakehouseSpec pins exactly that), and the read path never
    // re-evaluates the delete condition. Here the DV is built once from
    // the predicate, persisted, and the read anti-joins on
    // (_metadata.file_path, _metadata.row_index) — broadcast, since a DV
    // is bounded by the delete batch, never the table.
    "f16_delete_vectors" -> ((s, d) => {
      val root = s"${ioDir(d)}/delvec"
      documents(s, d).select(col("doc_id"), col("lang"), col("n_chars"))
        .write.mode("overwrite").parquet(s"$root/data")
      s.read.parquet(s"$root/data")
        .filter(col("doc_id") % 7 === 3)
        .select(col("_metadata.file_path").as("path"),
          col("_metadata.row_index").as("pos"))
        .write.mode("overwrite").parquet(s"$root/_dv")
      val dv = s.read.parquet(s"$root/_dv")
      s.read.parquet(s"$root/data")
        .select(col("_metadata.file_path").as("path"),
          col("_metadata.row_index").as("pos"),
          col("doc_id"), col("lang"), col("n_chars"))
        .join(broadcast(dv), Seq("path", "pos"), "left_anti")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
    }),

    // -- es14: streaming CDC apply (foreachBatch MERGE) --------------------
    // the continuous form of x9: a CDC feed lands as ordered microbatches
    // and each foreachBatch MERGEs its batch into the lake snapshot —
    // exactly how Structured Streaming applies change feeds to
    // Delta/Iceberg tables in production. The snapshot keeps TOMBSTONES
    // (op='D' rows stay, filtered only at read time), so a later batch can
    // resurrect a deleted key by version — batch 3 does exactly that, and
    // batch 2 supersedes batch 1's update of the same keys, so
    // latest-version-wins is exercised ACROSS state commits, not within
    // one merge. Each commit writes a NEW versioned snapshot dir (commits
    // are atomic swaps, never in-place edits). The final table must
    // hash-match the one-shot windowed oracle over base + all four
    // batches — replay-order-invariant because the merge keys on version.
    "es14_stream_upsert" -> ((s, d) => {
      val root = s"${ioDir(d)}/stream_upsert"
      graft.Scratch.delete(root)
      val (base, batches) = upsertFeed(s, d)
      // one file per batch with strictly increasing mtimes — the file
      // source then replays them in CDC order
      Replay.land(batches, s"$root/changes")
      val snapDir = s"$root/snap"
      base.write.mode("overwrite").parquet(s"$snapDir/v0")
      val current = new java.util.concurrent.atomic.AtomicReference(s"$snapDir/v0")
      // the per-batch merge runs at the replay's state width (its groupBy
      // and snapshot write inherit it; values are partition-independent)
      ReplayRunner.commit(ReplayRunner.parquet(s, s"$root/changes")) { (_, batch, id) =>
        val next = s.read.parquet(current.get()).unionByName(batch)
          .groupBy("okey")
          .agg(max(struct(col("version"), col("op"), col("status"),
            col("price"))).as("w"))
          .select(col("okey"), col("w.version").as("version"),
            col("w.op").as("op"), col("w.status").as("status"),
            col("w.price").as("price"))
        val dst = s"$snapDir/v${id + 1}"
        next.write.mode("overwrite").parquet(dst)
        current.set(dst)
      }
      s.read.parquet(current.get())
        .filter(col("op") =!= "D")
        .select(col("okey"), col("status"), col("price").cast("double").as("price"))
    }),

    // -- es21: streaming CHANGE-FEED EMISSION (per-commit CDC files) -------
    // x16 reconstructs a change feed from two snapshots after the fact;
    // this is the other half Delta actually ships: every streaming MERGE
    // commit also WRITES its change rows (insert/delete/update pre+post)
    // as per-commit CDC files, so downstream consumers read typed deltas
    // instead of diffing snapshots. Same 4-batch ordered replay as es14;
    // each foreachBatch computes its commit's feed with ONE reuse of
    // [[changeFeed]] (current snapshot as version 0, the batch as
    // version 1 — valid because replay versions are monotone per key)
    // and lands it under a batch-keyed dir before advancing the
    // snapshot. The oracle states all four commits' change rows IN
    // CLOSED FORM from the raw table (batch 1 updates, batch 2 deletes +
    // second updates with batch-1 PRE-images, batch 3's resurrection
    // arriving as an INSERT because the tombstone made the key absent,
    // batch 4 disjoint inserts) — so emission content, change typing,
    // pre-image lineage across commits, AND batch attribution are all
    // hash-gated. Scale: the per-commit diff aggregate is keyed on okey
    // exactly like the merge itself; CDC files are delta-sized.
    "es21_stream_cdf" -> ((s, d) => {
      val root = s"${ioDir(d)}/stream_cdf"
      graft.Scratch.delete(root)
      val (base, batches) = upsertFeed(s, d)
      Replay.land(batches, s"$root/changes")
      // Delta-sized snapshot advance (VERDICT r10 #6): the snapshot lives
      // as key-RANGE buckets (okey div 2^19) behind a version manifest.
      // Each commit rewrites ONLY the buckets containing changed keys —
      // untouched bucket dirs are carried forward BY REFERENCE in the new
      // manifest (f14's mechanism), so an insert-only commit into a fresh
      // key range writes O(|batch|), never O(|snapshot|). The advance
      // itself is shuffle-free: batch versions are monotone per key, so
      // the merged bucket is (old bucket ANTI-join broadcast batch keys)
      // UNION the batch rows — no groupBy over snapshot rows at all.
      val snapDir = s"$root/snap"
      val manifest = new java.util.concurrent.atomic.AtomicReference(
        bucketedInit(base, snapDir))
      // keyed by batch id: a Spark micro-batch RETRY must not double-count
      // its commit's change rows in the final union (the parquet write is
      // idempotent via overwrite; this map makes the bookkeeping match)
      val cdfDirs = new java.util.concurrent.ConcurrentHashMap[Long, String]()
      // ALSO keyed by batch id: the PRE-commit manifest each batch reads.
      // A retried batch must derive its advance from the same pre state,
      // never from the already-advanced manifest — reading v{id+1} bucket
      // dirs while overwriting that same verDir would be a self-read-
      // overwrite (ADVICE r11); with the pre-state replay the retry is a
      // pure re-execution (same input manifest -> same verDir content).
      val preMan = new java.util.concurrent.ConcurrentHashMap[Long, Map[Long, String]]()
      ReplayRunner.commit(ReplayRunner.parquet(s, s"$root/changes")) { (_, batch, id) =>
        val man = preMan.computeIfAbsent(id, _ => manifest.get())
        val touched = batch.select((col("okey") / BUK_W).cast("long").as("bk"))
          .distinct().collect().map(_.getLong(0)).toSet
        // pre-images live only in touched buckets; and only batch KEYS
        // can yield change rows, so the feed aggregate shuffles
        // O(|batch|) rows, never O(|snapshot|)
        val curT = bucketedRead(s, man, touched)
          .join(broadcast(batch.select("okey")), Seq("okey"), "leftsemi")
        val lg = curT.select(col("okey"), col("status"), col("price"),
            lit(0L).as("version"), col("op"))
          .unionByName(batch.select(col("okey"), col("status"),
            col("price"), lit(1L).as("version"), col("op")))
        val cdfDir = s"$root/cdf/b$id"
        changeFeed(lg, vFrom = 0L)
          .withColumn("batch_id", lit(id + 1))
          .write.mode("overwrite").parquet(cdfDir)
        cdfDirs.put(id, cdfDir)
        manifest.set(bucketedAdvance(s, man, batch,
          s"$snapDir/v${id + 1}", touched))
      }
      import scala.jdk.CollectionConverters._
      cdfDirs.values().asScala.toSeq.distinct.sorted.map(s.read.parquet(_))
        .reduce(_ unionByName _)
    }),

    // -- es22: MULTI-WRITER exactly-once streaming commit (es20 ∘ f22) ------
    // two CONCURRENT streaming writers own disjoint partitions of one
    // table; every micro-batch stages its parquet FIRST and then publishes
    // through the OccLog CAS (put-if-absent manifest link). The CAS
    // interleaving between the writers is nondeterministic, but every
    // loser REBASEs (disjoint partitions), so: final version = 1 + total
    // commits (no lost or duplicate commit), and each partition's entry is
    // its writer's LAST batch — making the read-back content
    // race-invariant, which is exactly what the closed-form oracle states.
    // OccStreamSpec adds the kill-restart half (a batch retry republishes
    // the same staged dir: one extra manifest version, identical content)
    // and the latch-held race in both orders. Scale: commits are one link
    // syscall on metadata; staged data files are never rewritten.
    "es22_stream_occ_sink" -> ((s, d) => {
      val root = s"${ioDir(d)}/stream_occ"
      graft.Scratch.delete(root)
      val docs = documents(s, d).select(col("doc_id"), col("lang"), col("n_chars"))
      // per-writer change-file sequences: batch i of partition p holds p's
      // docs with doc_id % (i+2) == 0, tagged gen=i (batch 3 is final)
      val langs = Seq("en", "de")
      langs.foreach(p => Replay.land((0 until 4).map(i =>
        docs.filter(col("lang") === p && col("doc_id") % (i + 2) === 0)
          .withColumn("gen", lit(i.toLong))), s"$root/changes_$p"))
      import graft.sources.OccLog
      def stage(p: String, name: String, df: DataFrame): String = {
        val dir = s"$root/data/$p/$name"
        df.write.mode("overwrite").parquet(dir)
        dir
      }
      OccLog.init(root, langs.map(p => p -> stage(p, "v1",
        docs.filter(col("lang") === p).withColumn("gen", lit(-1L)))).toMap)
      // the two writers run concurrently and race on the CAS
      ReplayRunner.commit(langs.map(p => ReplayRunner.parquet(s, s"$root/changes_$p")): _*) {
        (w, b, id) => occCommitBatch(root, langs(w), stage(langs(w), s"b$id", b))
      }
      val fin = OccLog.readLatest(root)
      fin.entries.values.toSeq.sorted.map(s.read.parquet(_))
        .reduce(_ unionByName _)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"),
          max(col("gen")).as("gen"))
        .withColumn("final_version", lit(fin.version.toLong))
    }),

    // -- es23: streaming media-integrity QUARANTINE (m7 ∘ es22) -------------
    // m7's manifest audit as a stream (VERDICT r11 #5): payloads arrive in
    // micro-batches (4 disjoint doc_id%4 change files), each batch is
    // verified against its declared manifest (byte count vs declared char
    // count, checksum vs the planted doc_id%97==13 corruption — the same
    // verdict precedence as m7), and the batch's quarantine rows (verdict
    // <> 'ok') are published EXACTLY-ONCE through the OccLog CAS: staged
    // parquet first, then a replace-partition commit keyed by batch id,
    // so a micro-batch retry republishes the same staged dir instead of
    // appending a duplicate (OccStreamSpec's quarantine test pins the
    // kill-restart at both crash sites). The answer reads the final
    // manifest back: the quarantine mix per (source, verdict) plus the
    // exact version count (1 init + 4 commits — any retry would show).
    // Scale: commits are one link syscall on metadata; only quarantine
    // rows (defect-sized, not corpus-sized) are ever staged.
    "es23_stream_quarantine" -> ((s, d) => {
      val root = s"${ioDir(d)}/stream_quar"
      graft.Scratch.delete(root)
      val docs = documents(s, d)
        .select(col("doc_id"), col("source"), col("text"), col("n_chars"))
      Replay.land((0 until 4).map(i => docs.filter(col("doc_id") % 4 === i)),
        s"$root/changes")
      import graft.sources.OccLog
      OccLog.init(root, Map.empty)
      ReplayRunner.commit(ReplayRunner.parquet(s, s"$root/changes")) { (_, b, id) =>
        val dir = s"$root/data/b$id"
        quarantineBatch(b).write.mode("overwrite").parquet(dir)
        OccLog.commitReplacePartition(root, s"b$id", dir,
          OccLog.readLatest(root).version)
      }
      val fin = OccLog.readLatest(root)
      // explicit schema: a defect-free batch commits an EMPTY parquet dir,
      // which schema inference would reject
      s.read.schema(quarSchema).parquet(fin.entries.values.toSeq.sorted: _*)
        .groupBy("source", "verdict")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_bytes")).as("total_bytes"))
        .withColumn("final_version", lit(fin.version.toLong))
    }),

    // -- f17: dynamic partition overwrite (partition restatement) ----------
    // the daily-restatement move on a hive-layout table: one partition's
    // data is recomputed (here: the 'de' slice re-curated to drop sub-100
    // char docs) and INSERT OVERWRITE replaces ONLY the partitions the new
    // batch actually writes — every other partition's files stay untouched
    // (static overwrite mode would have truncated the whole table; the
    // file-level untouched-partitions proof is LakehouseSpec's). At 100 TB
    // this is the difference between rewriting one day and rewriting the
    // lake. The read-back aggregate must equal the oracle's composed view:
    // all non-de rows exactly as they were, plus the restated de batch.
    "f17_dynamic_overwrite" -> ((s, d) => {
      val root = s"${ioDir(d)}/dynover"
      val docs = documents(s, d).select(col("doc_id"), col("lang"), col("n_chars"))
      docs.write.mode("overwrite").partitionBy("lang").parquet(root)
      // the restated batch comes from the upstream pipeline, never from a
      // self-read of the directory being overwritten
      val restated = docs
        .filter(col("lang") === "de" && col("n_chars") >= 100)
      restated.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("lang").parquet(root)
      s.read.parquet(root)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"),
          count_distinct(col("doc_id")).as("n_keys"))
    }),

    // -- f20: VACUUM — physical deletion of expired snapshot files ----------
    // the other half of f14's time travel: snapshots make old files
    // IMMORTAL until something reclaims them, and the reclaim must be
    // reference-counted — a file is deletable only when NO retained
    // manifest references it. Layout: commit c1 + c2 form snapshot v1;
    // compaction rewrites ONLY c2's fragments into c3, so snapshot v2 =
    // c1 (SHARED with v1) + c3. Retention expires v1; vacuum deletes
    // exactly (all files) − (union of retained manifests) = c2's four
    // files, while the shared c1 files survive — deleting them is the
    // classic vacuum bug, and LakehouseSpec pins both the survivals and
    // the deletions on disk. Vacuum itself is a manifest set-difference +
    // per-file FS deletes: bounded by FILE COUNT, reads no data, at
    // 100 TB it is a metadata operation. The gated result reads the
    // retained snapshot AFTER the deletes and must still land on the
    // full-table oracle — vacuum provably removed nothing live.
    "f20_vacuum" -> ((s, d) => {
      val root = s"${ioDir(d)}/vacuum"
      val docs = documents(s, d).select(col("doc_id"), col("lang"), col("n_chars"))
      docs.filter(col("doc_id") % 2 === 0).repartition(4)
        .write.mode("overwrite").parquet(s"$root/c1")
      docs.filter(col("doc_id") % 2 =!= 0).repartition(4)
        .write.mode("overwrite").parquet(s"$root/c2")
      def files(sub: String): Seq[String] = {
        val dir = new java.io.File(s"$root/$sub")
        if (!dir.exists()) Seq.empty
        else dir.listFiles().filter(_.getName.endsWith(".parquet"))
          .map(_.getAbsolutePath).sorted.toSeq
      }
      s.read.parquet(files("c2"): _*).repartition(2)
        .write.mode("overwrite").parquet(s"$root/c3")
      val v1 = files("c1") ++ files("c2")
      val v2 = files("c1") ++ files("c3")
      val log = new java.io.File(s"$root/_manifests")
      log.mkdirs()
      java.nio.file.Files.write(log.toPath.resolve("v1.txt"),
        v1.mkString("\n").getBytes("UTF-8"))
      java.nio.file.Files.write(log.toPath.resolve("v2.txt"),
        v2.mkString("\n").getBytes("UTF-8"))
      // retention: v1 expired. Live = union of RETAINED manifests (v2);
      // delete every data file no retained manifest references, then the
      // expired manifest itself.
      val live = v2.toSet
      Seq("c1", "c2", "c3").flatMap(files).filterNot(live)
        .foreach(f => java.nio.file.Files.delete(java.nio.file.Paths.get(f)))
      java.nio.file.Files.delete(log.toPath.resolve("v1.txt"))
      val retained = new String(java.nio.file.Files.readAllBytes(
        log.toPath.resolve("v2.txt")), "UTF-8").split("\n").toSeq
      s.read.parquet(retained: _*)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
    }),

    // -- f19: SCHEMA EVOLUTION across parquet generations -------------------
    // the drift every long-lived lake table accumulates: generation 0 was
    // written before `source`/`n_chars` existed, generation 1 added
    // `source` (and reordered columns — parquet resolves by NAME, not
    // position), generation 2 added `n_chars`. A mergeSchema read unions
    // the generations into one frame where pre-schema columns surface as
    // NULL, and the aggregate accounts for exactly which generation can
    // be NULL in what — the oracle restates the same accounting from the
    // raw table, so a read that dropped a column, resolved by position,
    // or zero-filled instead of NULL-filling hash-mismatches. Footer
    // merging is a file-count-bounded driver step; the data read itself
    // is the ordinary pruned scan.
    "f19_schema_evolution" -> ((s, d) => {
      val root = s"${ioDir(d)}/schevo"
      val docs = documents(s, d)
      writeViewOnce(root) {
        docs.filter(col("doc_id") % 3 === 0)
          .select(col("doc_id"), col("lang"))
          .write.mode("overwrite").parquet(s"$root/gen=0")
        docs.filter(col("doc_id") % 3 === 1)
          .select(col("source"), col("lang"), col("doc_id"))
          .write.mode("overwrite").parquet(s"$root/gen=1")
        docs.filter(col("doc_id") % 3 === 2)
          .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
          .write.mode("overwrite").parquet(s"$root/gen=2")
      }
      s.read.option("mergeSchema", "true").parquet(root)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("source").isNull, 1L).otherwise(0L)).as("n_null_source"),
          sum(when(col("n_chars").isNull, 1L).otherwise(0L)).as("n_null_nchars"),
          sum(coalesce(col("n_chars"), lit(0L))).as("chars_present"),
          count_distinct(col("source")).as("n_sources"))
    }),

    // -- f23: PARTITION-SPEC evolution (day -> week) ------------------------
    // f19 evolves the COLUMN schema; this evolves the PARTITION spec —
    // Iceberg's flagship feature: a table starts day-partitioned, the
    // spec changes to week partitioning, and old data is NEVER
    // rewritten. Generation 0 (days 1–15) lives under dayk=… dirs;
    // generation 1 (days 16+) under weekk=… dirs with dayk kept as a
    // data column. A read unions both layouts (basePath recovers each
    // generation's partition column); a DAY predicate reaches gen 0 as a
    // day PARTITION filter (prunes to one dir) and gen 1 as the
    // TRANSFORMED week partition filter + a data-level day filter —
    // i.e. old data prunes at old granularity, new at new, exactly the
    // per-spec predicate rewrite Iceberg planners do. The gated query
    // aggregates the unevolved day key over BOTH generations, so any
    // row lost or duplicated across the spec change hash-mismatches;
    // pruning is pinned in LakehouseSpec via scan numPartitions.
    "f23_partition_evolution" -> ((s, d) => {
      val root = s"${ioDir(d)}/partevo"
      partEvoWrite(s, d, root)
      partEvoRead(s, root, None)
        .groupBy("dayk")
        .agg(count(lit(1)).as("n_events"),
          count_distinct(col("user_id")).as("n_users"))
    }),

    // -- f22: optimistic concurrency — two writers race one table ----------
    // the multi-writer story f14/f20's single-writer manifests leave
    // open: TWO writers replace DISJOINT partitions of the same table
    // concurrently, starting from the same snapshot. Both stage their
    // data files first, then race the [[graft.sources.OccLog]] CAS for
    // version 2 (atomic hard-link create — exactly one wins); the loser
    // detects the interleaved commit, proves it touched only the OTHER
    // partition (manifest diff), REBASEs its replacement onto the new
    // snapshot and commits version 3. A CountDownLatch holds both
    // writers until each has read snapshot v1, so the conflict is
    // exercised deterministically on every invocation, not only under
    // lucky scheduling. The final table must show BOTH replacements
    // (gen=1 for 'en' and 'de', base gen=0 elsewhere) at final_version=3
    // regardless of which writer won the race — commit ORDER is
    // nondeterministic, table CONTENT is not. The same-partition ABORT
    // path (ConflictException — recompute, never blind-retry) is
    // spec-pinned in LakehouseSpec. Scale: manifests are
    // partition-count-bounded metadata; data files are written once
    // before the CAS and never rewritten on rebase; the race costs one
    // link syscall per attempt.
    "f22_occ_commit" -> ((s, d) => {
      import graft.sources.OccLog
      val root = s"${ioDir(d)}/occ"
      graft.Scratch.delete(root) // fresh race each invocation
      val docs = documents(s, d).select(col("doc_id"), col("lang"), col("n_chars"))
      def stage(sub: String, f: DataFrame): String = {
        val dir = s"$root/data/$sub"
        f.write.mode("overwrite").parquet(dir)
        dir
      }
      // v1 bootstrap: the table as three partition dirs, gen=0 everywhere
      OccLog.init(root, Map(
        "en" -> stage("v1-en", docs.filter(col("lang") === "en").withColumn("gen", lit(0L))),
        "de" -> stage("v1-de", docs.filter(col("lang") === "de").withColumn("gen", lit(0L))),
        "rest" -> stage("v1-rest",
          docs.filter(!col("lang").isin("en", "de")).withColumn("gen", lit(0L)))))
      val gate = new java.util.concurrent.CountDownLatch(2)
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      def writer(partition: String): Future[Int] = Future {
        val snap = OccLog.readLatest(root) // both read v1 before either commits
        val dir = stage(s"w-$partition",
          docs.filter(col("lang") === partition).withColumn("gen", lit(1L)))
        // blocking{} spawns a compensation thread: on a small global pool
        // one parked writer must not starve the other out of ever running.
        gate.countDown(); scala.concurrent.blocking { gate.await() }
        OccLog.commitReplacePartition(root, partition, dir, snap.version)
      }
      val vs = Await.result(
        Future.sequence(Seq(writer("en"), writer("de"))),
        scala.concurrent.duration.Duration(120, "s"))
      require(vs.toSet == Set(2, 3), s"expected versions {2,3}, got $vs")
      val fin = OccLog.readLatest(root)
      fin.entries.values.toSeq.sorted
        .map(s.read.parquet(_))
        .reduce(_ unionByName _)
        .withColumn("final_version", lit(fin.version.toLong))
    })
  )

  def oracles: Map[String, String] = Map(
    "f12_bucketed_join" ->
      """SELECT o_orderpriority, COUNT(*) AS n_items,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority""".stripMargin,
    // full recompute over ALL raw events — the incremental merge must land
    // exactly here (register arithmetic identical to the x2 oracle shape)
    "x8_incremental_agg" ->
      """WITH h AS (
        |  SELECT event_type, md5(CAST(user_id AS VARCHAR)) AS hh,
        |         CAST(value AS DECIMAL(18,2)) AS cents
        |  FROM events),
        |z AS (SELECT event_type, substring(hh, 1, 2) AS bucket, cents,
        |             substring(hh, 3, 8) AS w, ltrim(substring(hh, 3, 8), '0') AS s
        |      FROM h),
        |r AS (SELECT event_type, bucket, cents,
        |        CASE WHEN length(s) = 0 THEN 32
        |             ELSE (length(w) - length(s)) * 4 +
        |               CASE WHEN s[1] = '1' THEN 3
        |                    WHEN s[1] IN ('2','3') THEN 2
        |                    WHEN s[1] IN ('4','5','6','7') THEN 1
        |                    ELSE 0 END
        |        END + 1 AS rho
        |      FROM z)
        |SELECT event_type, bucket, COUNT(*) AS n_events,
        |  CAST(CAST(SUM(cents) AS DECIMAL(38,2)) AS DOUBLE) AS total,
        |  CAST(MAX(rho) AS BIGINT) AS r
        |FROM r GROUP BY event_type, bucket""".stripMargin,
    // latest-version-wins merge, deletes dropped — stated as the plain
    // windowed form (the engine's max_by-struct is the agg equivalent)
    "x11_join_ivm" ->
      """SELECT o_orderkey, o_custkey, c_mktsegment AS segment,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price
        |FROM orders JOIN customer ON o_custkey = c_custkey""".stripMargin,
    // from-scratch join of the POST-state tables: orders ending in 2
    // deleted, in 3 price-bumped; customers ending in 4 deleted, in 6
    // resegmented — the incremental signed-delta maintenance must land here
    "x12_ivm_retract" ->
      """WITH o2 AS (
        |  SELECT o_orderkey, o_custkey,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) +
        |         CASE WHEN o_orderkey % 10 = 3 THEN 1 ELSE 0 END
        |         AS DECIMAL(18,2)) AS price
        |  FROM orders WHERE o_orderkey % 10 <> 2),
        |c2 AS (
        |  SELECT c_custkey,
        |    CASE WHEN c_custkey % 10 = 6 THEN 'UPDATED' ELSE c_mktsegment END AS segment
        |  FROM customer WHERE c_custkey % 10 <> 4)
        |SELECT o_orderkey, o_custkey, segment, CAST(price AS DOUBLE) AS price
        |FROM o2 JOIN c2 ON o_custkey = c_custkey""".stripMargin,
    // from-scratch aggregate of the POST-state events: rows ending in 9
    // inserted, in 2 deleted, in 3 value-bumped, every signup retracted —
    // the signed incremental maintenance must land exactly here (and with
    // zero signup groups: the purge drives their counts to 0 and the
    // maintained view removes them, not parks them at n=0)
    // from-scratch MAX/MIN/COUNT over the post-state events — exactly what
    // the recompute-on-retract maintenance must reproduce. The max-delete
    // predicate (every bucket's max-value purchase row not already classed
    // delete/update) is closed-form on both sides.
    // from-scratch x5-style HLL registers over the POST-state corpus
    // (src7 purged, docs ending in 2 deleted, docs ending in 9 inserted —
    // i.e. everything except src7 and %10==2 survives): exactly what the
    // sketch-state maintenance must reproduce. No DISTINCT pass — MAX over
    // rho is duplicate-insensitive.
    "x17_hll_ivm_recompute" ->
      """WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS tok
        |             FROM documents
        |             WHERE source <> 'src7' AND doc_id % 10 <> 2),
        |h AS (SELECT source, substring(md5(tok), 1, 2) AS bucket,
        |             substring(md5(tok), 3, 8) AS w FROM tok),
        |z AS (SELECT source, bucket, w, ltrim(w, '0') AS s FROM h),
        |r AS (SELECT source, bucket,
        |        CASE WHEN length(s) = 0 THEN 32
        |             ELSE (length(w) - length(s)) * 4 +
        |               CASE WHEN s[1] = '1' THEN 3
        |                    WHEN s[1] IN ('2','3') THEN 2
        |                    WHEN s[1] IN ('4','5','6','7') THEN 1
        |                    ELSE 0 END
        |        END + 1 AS rho
        |      FROM z)
        |SELECT source, bucket, CAST(MAX(rho) AS BIGINT) AS r
        |FROM r GROUP BY source, bucket""".stripMargin,
    "x15_minmax_ivm_recompute" ->
      """WITH base AS (
        |  SELECT event_id, user_id, user_id % 8 AS bucket, event_type,
        |         value AS v
        |  FROM events WHERE event_id % 10 <> 9),
        |pmax AS (
        |  SELECT bucket, MAX(v) AS mv FROM base
        |  WHERE event_type = 'purchase' GROUP BY bucket),
        |post AS (
        |  SELECT b.event_type, b.bucket,
        |         b.v + CASE WHEN b.event_id % 10 = 3 THEN 1.0 ELSE 0.0 END AS v
        |  FROM base b LEFT JOIN pmax p ON b.bucket = p.bucket
        |  WHERE b.event_type <> 'signup' AND b.event_id % 10 <> 2
        |    AND NOT COALESCE(b.event_type = 'purchase'
        |          AND b.event_id % 10 NOT IN (2, 3) AND b.v = p.mv, FALSE)
        |  UNION ALL
        |  SELECT event_type, user_id % 8 AS bucket, value AS v
        |  FROM events WHERE event_id % 10 = 9 AND event_type <> 'signup')
        |SELECT event_type, bucket, COUNT(*) AS n_events,
        |       MAX(v) AS max_v, MIN(v) AS min_v
        |FROM post GROUP BY event_type, bucket""".stripMargin,
    "x13_agg_ivm_retract" ->
      """WITH base AS (
        |  SELECT event_id, user_id, event_type,
        |         CAST(value AS DECIMAL(18,2)) AS cents
        |  FROM events WHERE event_id % 10 <> 9),
        |post AS (
        |  SELECT user_id, event_type,
        |    CAST(cents + CASE WHEN event_id % 10 = 3 THEN 1 ELSE 0 END
        |         AS DECIMAL(18,2)) AS cents
        |  FROM base WHERE event_id % 10 <> 2 AND event_type <> 'signup'
        |  UNION ALL
        |  SELECT user_id, event_type, CAST(value AS DECIMAL(18,2)) AS cents
        |  FROM events WHERE event_id % 10 = 9 AND event_type <> 'signup')
        |SELECT event_type, user_id % 8 AS bucket, COUNT(*) AS n_events,
        |  CAST(CAST(SUM(cents) AS DECIMAL(38,2)) AS DOUBLE) AS total
        |FROM post GROUP BY event_type, user_id % 8""".stripMargin,
    // post-vacuum read of the retained snapshot == the full table: the
    // reference-counted delete removed only expired-unique files
    "f20_vacuum" ->
      """SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY lang""".stripMargin,
    // generation g = doc_id % 3: gen 0 predates `source` and `n_chars`,
    // gen 1 predates `n_chars` — the merged-schema read must NULL-fill
    // exactly those cells and nothing else
    "f19_schema_evolution" ->
      """SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_null_source,
        |  CAST(SUM(CASE WHEN doc_id % 3 <= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_null_nchars,
        |  CAST(SUM(CASE WHEN doc_id % 3 = 2 THEN n_chars ELSE 0 END) AS BIGINT) AS chars_present,
        |  COUNT(DISTINCT CASE WHEN doc_id % 3 >= 1 THEN source END) AS n_sources
        |FROM documents GROUP BY lang""".stripMargin,
    "x9_cdc_upsert" ->
      """WITH base AS (
        |  SELECT o_orderkey AS okey, o_orderstatus AS status,
        |         CAST(o_totalprice AS DECIMAL(18,2)) AS price,
        |         0 AS version, 'U' AS op FROM orders),
        |changes AS (
        |  SELECT o_orderkey AS okey, 'U2' AS status,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) + 1 AS DECIMAL(18,2)) AS price,
        |         1 AS version, 'U' AS op
        |  FROM orders WHERE o_orderkey % 10 = 3
        |  UNION ALL
        |  SELECT o_orderkey, NULL, NULL, 1, 'D'
        |  FROM orders WHERE o_orderkey % 10 = 7
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, 'I', CAST(o_totalprice AS DECIMAL(18,2)), 1, 'U'
        |  FROM orders WHERE o_orderkey % 10 = 1),
        |u AS (SELECT * FROM base UNION ALL SELECT * FROM changes),
        |last AS (SELECT okey, status, price, op,
        |    ROW_NUMBER() OVER (PARTITION BY okey ORDER BY version DESC) AS rn
        |  FROM u)
        |SELECT okey, status, CAST(price AS DOUBLE) AS price
        |FROM last WHERE rn = 1 AND op <> 'D'""".stripMargin,
    // race-invariant closed form: each partition's final entry is its
    // writer's LAST batch (gen=3, doc_id % 5 = 0), and the version count
    // is exact — 1 init + 8 CAS commits = 9, any interleaving
    "es22_stream_occ_sink" ->
      """SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |       CAST(3 AS BIGINT) AS gen, CAST(9 AS BIGINT) AS final_version
        |FROM documents WHERE lang IN ('en', 'de') AND doc_id % 5 = 0
        |GROUP BY lang""".stripMargin,
    // closed form: m7's verdict rules over the whole corpus (the four
    // doc_id%4 micro-batches partition it), verdict <> 'ok' only; the
    // version count is exact — 1 init + 4 commits, so a double-published
    // batch or a lost commit both hash-mismatch
    "es23_stream_quarantine" ->
      """WITH v AS (
        |  SELECT doc_id, source,
        |    CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |    CASE WHEN octet_length(encode(text)) = 0 THEN 'empty'
        |         WHEN doc_id % 97 = 13 THEN 'checksum_mismatch'
        |         WHEN octet_length(encode(text)) <> n_chars THEN 'size_mismatch'
        |         ELSE 'ok' END AS verdict
        |  FROM documents)
        |SELECT source, verdict, COUNT(*) AS n_docs,
        |  CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
        |  CAST(5 AS BIGINT) AS final_version
        |FROM v WHERE verdict <> 'ok'
        |GROUP BY source, verdict""".stripMargin,
    // all four commits' change rows in CLOSED FORM: batch 1 updates from
    // base, batch 2 deletes (base pre-images) + re-updates (batch-1
    // pre-images), batch 3 resurrection-as-insert (the tombstone made the
    // key absent), batch 4 disjoint inserts
    "es21_stream_cdf" ->
      """WITH o AS (SELECT o_orderkey AS k, o_orderstatus AS st,
        |             CAST(o_totalprice AS DECIMAL(18,2)) AS pr FROM orders)
        |SELECT 1 AS batch_id, k AS okey, 'update_preimage' AS change_type,
        |       st AS status, CAST(pr AS DOUBLE) AS price
        |FROM o WHERE k % 10 = 3
        |UNION ALL
        |SELECT 1, k, 'update_postimage', 'U2',
        |       CAST(CAST(pr + 1 AS DECIMAL(18,2)) AS DOUBLE)
        |FROM o WHERE k % 10 = 3
        |UNION ALL
        |SELECT 2, k, 'delete', st, CAST(pr AS DOUBLE) FROM o WHERE k % 10 = 7
        |UNION ALL
        |SELECT 2, k, 'update_preimage', 'U2',
        |       CAST(CAST(pr + 1 AS DECIMAL(18,2)) AS DOUBLE)
        |FROM o WHERE k % 10 = 3
        |UNION ALL
        |SELECT 2, k, 'update_postimage', 'U3',
        |       CAST(CAST(pr + 2 AS DECIMAL(18,2)) AS DOUBLE)
        |FROM o WHERE k % 10 = 3
        |UNION ALL
        |SELECT 3, k, 'insert', 'R', CAST(pr AS DOUBLE) FROM o WHERE k % 100 = 7
        |UNION ALL
        |SELECT 4, k + 20000000, 'insert', 'I', CAST(pr AS DOUBLE)
        |FROM o WHERE k % 10 = 2""".stripMargin,
    // snapshot-at-v0 full-outer-diff snapshot-at-v4, stated the plain way
    // (two windowed merges + a full join) — the engine computes both
    // images in one aggregate, same net-changes semantics
    "x16_change_feed" ->
      """WITH lg AS (
        |  SELECT o_orderkey AS okey, o_orderstatus AS status,
        |         CAST(o_totalprice AS DECIMAL(18,2)) AS price,
        |         0 AS version, 'U' AS op FROM orders
        |  UNION ALL
        |  SELECT o_orderkey, 'U2',
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) + 1 AS DECIMAL(18,2)),
        |         1, 'U' FROM orders WHERE o_orderkey % 10 = 3
        |  UNION ALL
        |  SELECT o_orderkey, NULL, NULL, 2, 'D'
        |  FROM orders WHERE o_orderkey % 10 = 7
        |  UNION ALL
        |  SELECT o_orderkey, 'U3',
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) + 2 AS DECIMAL(18,2)),
        |         2, 'U' FROM orders WHERE o_orderkey % 10 = 3
        |  UNION ALL
        |  SELECT o_orderkey, 'R', CAST(o_totalprice AS DECIMAL(18,2)), 3, 'U'
        |  FROM orders WHERE o_orderkey % 100 = 7
        |  UNION ALL
        |  SELECT o_orderkey + 20000000, 'I', CAST(o_totalprice AS DECIMAL(18,2)), 4, 'U'
        |  FROM orders WHERE o_orderkey % 10 = 2),
        |pre AS (SELECT okey, status, price FROM (
        |    SELECT okey, status, price, op,
        |      ROW_NUMBER() OVER (PARTITION BY okey ORDER BY version DESC) AS rn
        |    FROM lg WHERE version <= 0) WHERE rn = 1 AND op <> 'D'),
        |post AS (SELECT okey, status, price FROM (
        |    SELECT okey, status, price, op,
        |      ROW_NUMBER() OVER (PARTITION BY okey ORDER BY version DESC) AS rn
        |    FROM lg) WHERE rn = 1 AND op <> 'D'),
        |j AS (SELECT coalesce(a.okey, b.okey) AS okey,
        |        a.status AS ps, a.price AS pp, b.status AS ns, b.price AS np,
        |        a.okey IS NOT NULL AS in_pre, b.okey IS NOT NULL AS in_post
        |      FROM pre a FULL OUTER JOIN post b ON a.okey = b.okey)
        |SELECT okey, 'insert' AS change_type, ns AS status,
        |       CAST(np AS DOUBLE) AS price
        |FROM j WHERE NOT in_pre AND in_post
        |UNION ALL
        |SELECT okey, 'delete', ps, CAST(pp AS DOUBLE)
        |FROM j WHERE in_pre AND NOT in_post
        |UNION ALL
        |SELECT okey, 'update_preimage', ps, CAST(pp AS DOUBLE)
        |FROM j WHERE in_pre AND in_post
        |  AND (ps IS DISTINCT FROM ns OR pp IS DISTINCT FROM np)
        |UNION ALL
        |SELECT okey, 'update_postimage', ns, CAST(np AS DOUBLE)
        |FROM j WHERE in_pre AND in_post
        |  AND (ps IS DISTINCT FROM ns OR pp IS DISTINCT FROM np)""".stripMargin,
    // layout-independent truth: the day aggregate over the whole table —
    // the spec change must lose/duplicate nothing
    "f23_partition_evolution" ->
      """SELECT 'd' || strftime(ts, '%Y%m%d') AS dayk, COUNT(*) AS n_events,
        |       COUNT(DISTINCT user_id) AS n_users
        |FROM events GROUP BY 1""".stripMargin,
    // table content after both replace-partition commits land, whatever
    // the race order: en/de rewritten at gen=1, everything else base
    "f22_occ_commit" ->
      """SELECT doc_id, lang, n_chars,
        |  CASE WHEN lang IN ('en', 'de') THEN 1 ELSE 0 END AS gen,
        |  3 AS final_version
        |FROM documents""".stripMargin,
    // v1 must see ONLY the first commit even though v2's files share the
    // directory tree — the manifest, not the directory, defines the table
    "f14_time_travel" ->
      """SELECT 'v1' AS version, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
        |FROM documents WHERE doc_id % 2 = 0
        |UNION ALL
        |SELECT 'v2', COUNT(*), CAST(SUM(n_chars) AS BIGINT)
        |FROM documents""".stripMargin,
    // both the fragmented snapshot and the compacted one must equal the
    // source table per-lang — compaction may move rows between files but
    // never change, drop, or duplicate one
    "f15_compaction" ->
      """SELECT v.version, lang, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
        |FROM documents CROSS JOIN (VALUES ('v1'), ('v2')) AS v(version)
        |GROUP BY v.version, lang""".stripMargin,
    // the read applies the persisted positional vector; on this layout the
    // DV was derived from doc_id % 7 = 3, so survivors are its complement
    "f16_delete_vectors" ->
      """SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
        |FROM documents WHERE doc_id % 7 <> 3
        |GROUP BY lang""".stripMargin,
    // one-shot latest-version-wins over base + all four CDC batches; the
    // engine reached the same table through four incremental MERGE commits
    "es14_stream_upsert" ->
      """WITH base AS (
        |  SELECT o_orderkey AS okey, o_orderstatus AS status,
        |         CAST(o_totalprice AS DECIMAL(18,2)) AS price,
        |         0 AS version, 'U' AS op FROM orders),
        |changes AS (
        |  SELECT o_orderkey AS okey, 'U2' AS status,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) + 1 AS DECIMAL(18,2)) AS price,
        |         1 AS version, 'U' AS op
        |  FROM orders WHERE o_orderkey % 10 = 3
        |  UNION ALL
        |  SELECT o_orderkey, NULL, NULL, 2, 'D'
        |  FROM orders WHERE o_orderkey % 10 = 7
        |  UNION ALL
        |  SELECT o_orderkey, 'U3',
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) + 2 AS DECIMAL(18,2)), 2, 'U'
        |  FROM orders WHERE o_orderkey % 10 = 3
        |  UNION ALL
        |  SELECT o_orderkey, 'R', CAST(o_totalprice AS DECIMAL(18,2)), 3, 'U'
        |  FROM orders WHERE o_orderkey % 100 = 7
        |  UNION ALL
        |  SELECT o_orderkey + 20000000, 'I', CAST(o_totalprice AS DECIMAL(18,2)), 4, 'U'
        |  FROM orders WHERE o_orderkey % 10 = 2),
        |u AS (SELECT * FROM base UNION ALL SELECT * FROM changes),
        |last AS (SELECT okey, status, price, op,
        |    ROW_NUMBER() OVER (PARTITION BY okey ORDER BY version DESC) AS rn
        |  FROM u)
        |SELECT okey, status, CAST(price AS DOUBLE) AS price
        |FROM last WHERE rn = 1 AND op <> 'D'""".stripMargin,
    // non-de partitions untouched; the de partition replaced by its
    // restated (n_chars >= 100) batch — UNLESS that batch is EMPTY:
    // dynamic overwrite rewrites only partitions present in the batch, so
    // an empty restatement is a no-op and the OLD de rows survive (the
    // real INSERT OVERWRITE ... PARTITION semantics; the vocab-dry patho
    // corpus, whose de docs are all short, caught the oracle assuming the
    // partition is always rewritten — round 12)
    "f17_dynamic_overwrite" ->
      """WITH has AS (SELECT COUNT(*) AS n FROM documents
        |             WHERE lang = 'de' AND n_chars >= 100)
        |SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |  COUNT(DISTINCT doc_id) AS n_keys
        |FROM documents, has
        |WHERE lang <> 'de' OR n_chars >= 100 OR has.n = 0
        |GROUP BY lang""".stripMargin
  )
}
