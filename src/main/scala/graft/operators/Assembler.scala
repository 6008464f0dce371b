package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions._
import scala.reflect.runtime.universe.TypeTag
import org.apache.spark.sql.expressions.Window
import graft.Tables._
import graft.core.{Counters, Fixpoint, KmerCodec}
import graft.sources.StageRunner

/** The assembly core: the reference's "Reflexible Distributed K-mer" loop
  * (`ReflexivDSMain.java:3011-3368` extension merge, `:3369-3618` fork
  * filters, `:3688-3806` orientation randomizer) re-architected for Spark.
  *
  * Design (fresh, not a translation):
  *  - The De Bruijn graph is an edge table of oriented k-mers. The fork
  *    filter (J2) is one per-node rule ([[ForkRule]]) judged per
  *    (k-1)-prefix and per (k-1)-suffix — after which every node has
  *    in/out degree <= 1, so the graph is disjoint paths/cycles. Both
  *    drivers apply it: the single task over its edge store, the
  *    distributed seed after a sort-based `groupByKey` on packed node keys.
  *  - Contigs are built by randomized path contraction: each fragment flips
  *    a deterministic coin per round; heads offer their tail key, tails
  *    offer their head key, and a `groupByKey(key).flatMapGroups` merges
  *    the (<=1 head, <=1 tail) pair. One hash shuffle per round and
  *    O(log L) rounds — vs the reference's range-partition total sort per
  *    round (SURVEY §4.3); also fully deterministic, because the coins are
  *    hashes of fragment endpoints, not RNG.
  *  - Convergence probe (A4, made exact): every `probeEvery` rounds test
  *    whether any junction is still both a tail and a head of open
  *    fragments (an `intersect` on the endpoint columns) — no sampled
  *    count-stability heuristic, so termination is never a false stop;
  *    each probe `localCheckpoint`s the fragments, which truncates the
  *    lineage so the loop scales to ~100s of rounds, and frees the
  *    previous probe's blocks ([[graft.core.Fixpoint.release]]).
  *  - Single-task gate, checked twice at every k. First on the solid
  *    (`count >= minCov`) k-mer table: n solid k-mers mirror to at most 2n
  *    edges and seed at most 2n·k bases, so when that fits [[RowCap]] (or a
  *    lower `localThreshold`) and [[MaxLocalBases]], mirror, both fork
  *    sides and the chain walk run in ONE task ([[assembleLocal]]) — no
  *    fork-filter shuffle, seed checkpoint or stats job. Above it the
  *    distributed rounds run and the gate is re-checked on the shrinking
  *    fragment set, so they finish in the same walk ([[walkChains]]).
  *
  * Key regimes. The reference keeps a 64-bit twin of every assembler
  * (`ReflexivDSMain64.java`, to k=95); here the single-task kernel is
  * written once, over word keys: a k-mer or (k-1)-mer endpoint is a
  * right-aligned 2k-bit integer in w = ceil((2k+2)/64) longs, high word
  * first, at offset i·w of one flat `Array[Long]` store. The top two bits
  * of the top word carry the scramble salt ([[endKey]]); at w = 1 (k <= 31)
  * a key is the packed `Long`. The count table carries the same key
  * ([[Genomics.countCanonical]]), and [[assemble]] picks the regime from
  * its key column's type: a `bigint` key runs [[LongKeys]] (k <= 31), an
  * `array<bigint>` key [[WordKeys]] at any w. No key is converted on the
  * way; the fork filter and merge rounds shuffle word keys in both.
  *
  * Scale notes: up to ~2M solid canonical k-mers at any k (the default
  * gate) — bacterial-size genomes, `reassemble`, `stitch`, each rung of a
  * `meta` ladder — take the single-task path after one count (which also
  * materializes the k-mer checkpoint). Above that, fragment rows shrink
  * geometrically, AQE coalesces the shrinking shuffles, and nothing but
  * the convergence count reaches the driver.
  */
object Assembler extends QueryFamily {

  /** A path fragment: a 2-bit block sequence between two (k-1)-mer endpoint
    * keys — `Long` (k <= 31) or w-word `Array[Long]` (see Key regimes);
    * closed (head == tail) for a cycle. */
  case class Frag[K](head: K, tail: K, seq: Array[Long]) {
    def closed: Boolean = java.util.Objects.deepEquals(head, tail)
  }

  /** The BYTE side of the single-task gate: `2n·k` at the k-mer check, the
    * fragments' total bases at the fragment check. Contraction shrinks the
    * row count geometrically but total sequence only by k-1 per merge, so a
    * small fragment count can still carry the whole assembly's sequence — a
    * count-only switch would funnel it all into one task and OOM an
    * executor at the 100 TB design point. 500 Mbases ≈ 125 MB packed, well
    * under one executor. */
  private val MaxLocalBases = 500000000L

  /** The ROW side of the single-task gate, at every k. */
  private val RowCap = 4000000L

  /** Deterministic per-round coin: splittable-hash of the endpoint hashes. */
  private def coin(headHash: Long, tailHash: Long, iter: Int): Boolean = {
    var h = headHash * 0x9E3779B97F4A7C15L + tailHash * 0xC2B2AE3D27D4EB4FL +
      iter.toLong * 0x165667B19E3779F9L
    h ^= h >>> 31; h *= 0xFF51AFD7ED558CCDL; h ^= h >>> 29
    (h & 1L) == 0L
  }

  /** The fork rule (J2) at one (k-1)-mer node, written once for both
    * drivers. A node's arms are its oriented out-edges (prefix side) or
    * in-edges (suffix side): at most four, one per base.
    *
    * The winner is the arm first in `(count desc, canonical k-mer asc)`,
    * k-mers compared unsigned, top word first (base order). Two distinct
    * arms of one node never share a canonical k-mer, so equal (count,
    * canonical k-mer) arms are identical rows and which copy wins changes
    * no result. A losing arm is a sequencing ERROR (the reference's
    * `-error` minErrorCoverage rule, J3 — same classification as
    * `g8_fork_classify`) iff its coverage is <= `minError` AND the winner
    * has >= 2x it; a loser above that bar marks a genuine REPEAT. Per node:
    *  - default: keep the winner — bubbles and tips merge into the heavier
    *    path — unless `minError > 0` and a repeat arm survives; then the
    *    node stays contested, all its arms go, and contraction breaks
    *    there instead of chimera-joining two repeat copies;
    *  - `scramble` (repeat-aware; the reference's DSMain64 two-branch path,
    *    `ReflexivDSMain64.java:686-756`, as unitig-with-overlap semantics):
    *    drop the error arms, keep every surviving arm, and with >= 2
    *    survivors the node is a BARRIER. Contraction stops at it, so the
    *    incident unitigs overlap by k-1 and no genomic k-mer is lost, where
    *    the default deletes the contested group and over-fragments;
    *  - `-bubble` (`popBubbles = false`, "set to NOT remove bubbles"): keep
    *    a lone arm only, so both bubble arms surface as separate contigs.
    *
    * Both sides are judged over all mirrored edges, and an edge survives
    * iff both keep it. The suffix group of an edge is the prefix group of
    * its reverse complement, arm for arm with equal counts, and the
    * canonical tie-break is the same on both strands: so an edge and its
    * reverse complement share one fate, and both strands of a unitig
    * assemble alike. */
  private[operators] final case class ForkRule(popBubbles: Boolean, minError: Int,
                                               scramble: Boolean) {
    /** The rule at the node whose arms are the edges `arms[from, from + n)`
      * of a store (k-mer words at e·w of `km`, counts `cn`): sets `keep(e)`
      * for each kept arm and returns the barrier flag. */
    def node(arms: Array[Int], from: Int, n: Int, km: Array[Long], cn: Array[Long],
             k: Int, keep: Array[Boolean]): Boolean = {
      val w = KmerCodec.wordsFor(k)
      def canonical(e: Int): Array[Long] = {
        val rc = new Array[Long](w)
        KmerCodec.rcWords(km, e * w, k, rc, 0)
        if (KmerCodec.compareWords(km, e * w, rc, 0, w) <= 0) km.slice(e * w, e * w + w) else rc
      }
      var x = arms(from)
      var i = from + 1
      while (i < from + n) {
        val e = arms(i)
        if (cn(e) > cn(x) ||
          (cn(e) == cn(x) && KmerCodec.compareWords(canonical(e), 0, canonical(x), 0, w) < 0)) x = e
        i += 1
      }
      var survivors = 0
      i = from
      while (i < from + n) {
        val e = arms(i)
        if (e == x || !(cn(e) <= minError && cn(x) >= cn(e) * 2)) {
          survivors += 1
          if (scramble) keep(e) = true
        }
        i += 1
      }
      val keepWinner = if (popBubbles) minError <= 0 || survivors == 1 else n == 1
      if (!scramble && keepWinner) keep(x) = true
      scramble && survivors >= 2
    }
  }

  /** What differs between the two key types: the endpoint key `K` of the
    * fragment row (also the key column of the canonical counts) and its
    * copy to and from a word store. */
  private[operators] sealed abstract class KeyRegime[K : TypeTag] extends Serializable {
    @transient lazy val fragEnc: Encoder[Frag[K]] = ExpressionEncoder[Frag[K]]()
    @transient lazy val keyEnc: Encoder[K] = ExpressionEncoder[K]()
    @transient lazy val countEnc: Encoder[(K, Long)] = ExpressionEncoder[(K, Long)]()
    @transient lazy val armEnc: Encoder[Arm[K]] = ExpressionEncoder[Arm[K]]()
    @transient lazy val edgeEnc: Encoder[(K, Boolean, Boolean)] = ExpressionEncoder[(K, Boolean, Boolean)]()
    @transient lazy val nodesEnc: Encoder[(K, K, K)] = ExpressionEncoder[(K, K, K)]()
    /** Endpoint hash; the per-round coin mixes the two of a fragment. */
    def hash(key: K): Long
    /** Endpoint order; a merge group pairs its heads and tails in it. */
    def keyOrder: Ordering[K]
    /** The endpoint key at `s[off, off + w)`, and back. */
    def key(s: Array[Long], off: Int, w: Int): K
    def put(key: K, dst: Array[Long], off: Int): Unit
    /** The unsalted head or tail endpoint ([[endKey]]) of a word-key k-mer. */
    def node(kmer: K, k: Int, head: Boolean): K = {
      val w = KmerCodec.wordsFor(k)
      val e = new Array[Long](2 * w)
      put(kmer, e, 0)
      endKey(e, 0, k, head, salted = false, e, w)
      key(e, w, w)
    }

    def coin(f: Frag[K], iter: Int): Boolean = Assembler.coin(hash(f.head), hash(f.tail), iter)
    /** The key `f` offers in a merge round: its tail if it is the head. */
    def offer(f: Frag[K], isHead: Boolean): K = if (isHead) f.tail else f.head
    def pairOrder: Ordering[Frag[K]] =
      Ordering.by[Frag[K], K](_.head)(keyOrder).orElseBy(_.tail)(keyOrder)
    /** The fragment with endpoints `heads[ho, ho + w)` and `tails[to, to + w)`. */
    def frag(heads: Array[Long], ho: Int, tails: Array[Long], to: Int, w: Int,
             seq: Array[Long]): Frag[K] = Frag(key(heads, ho, w), key(tails, to, w), seq)
  }

  /** Packed-Long keys, k <= 31 (the w = 1 word key). */
  private[operators] object LongKeys extends KeyRegime[Long] {
    def hash(key: Long): Long = key
    val keyOrder: Ordering[Long] = Ordering.Long
    def key(s: Array[Long], off: Int, w: Int): Long = s(off)
    def put(key: Long, dst: Array[Long], off: Int): Unit = dst(off) = key
  }

  /** Word-array keys (`array<bigint>` counts), any w. Arrays have
    * reference equality on the JVM, so endpoints compare through
    * `KmerCodec.compareWords`; as an `array<bigint>` group or join key they
    * compare by content. */
  private[operators] object WordKeys extends KeyRegime[Array[Long]] {
    def hash(key: Array[Long]): Long = java.util.Arrays.hashCode(key)
    val keyOrder: Ordering[Array[Long]] = (a, b) => KmerCodec.compareWords(a, 0, b, 0, a.length)
    def key(s: Array[Long], off: Int, w: Int): Array[Long] = java.util.Arrays.copyOfRange(s, off, off + w)
    def put(key: Array[Long], dst: Array[Long], off: Int): Unit =
      System.arraycopy(key, 0, dst, off, key.length)
  }

  /** Endpoint of the seed fragment of the k-mer at `km[off, off + w)` into
    * `dst[doff, doff + w)`: its (k-1)-mer prefix (head) or suffix (tail) —
    * the fork-filter node key — or, salted, the k-mer itself with bit
    * `64w-1` set (head) or bits `64w-1` and `64w-2` (tail). Real keys leave
    * both top bits clear, so a salted key is unique to its oriented edge
    * and end and equals no real key: no round merges across a scramble
    * barrier. */
  private[operators] def endKey(km: Array[Long], off: Int, k: Int, head: Boolean,
                                salted: Boolean, dst: Array[Long], doff: Int): Unit = {
    val w = KmerCodec.wordsFor(k)
    val first = w - 1 - ((k - 1) >>> 5) // the word holding base 0
    var j = w - 1
    while (j >= 0) {
      val x = km(off + j)
      dst(doff + j) =
        if (salted) x
        else if (head) (x >>> 2) | (if (j > 0) km(off + j - 1) << 62 else 0L)
        else if (j == first) x & ~(3L << (2 * ((k - 1) & 31)))
        else x
      j -= 1
    }
    if (salted) dst(doff) |= (if (head) Long.MinValue else Long.MinValue | (1L << 62))
  }

  /** Open-addressed map from w-word keys to Int (linear probing,
    * power-of-2 capacity, presence flags so any key — including 0 — is
    * storable). Keys are copied in from `(store, offset)`: the hot,
    * allocation-free structure of the single-task kernel (a boxed
    * `mutable.HashMap` cost ~7x per row on a 4.5M-row walk). */
  private final class WordMap(w: Int, expected: Int) {
    // capacity bound: past 2^30, expected*2-1 wraps negative and a full
    // table would spin forever in slot(); 2^29 key words (>= 4 GiB) is far
    // past any sane `localThreshold`, so fail loudly instead.
    require(expected.toLong * w <= (1L << 29),
      s"WordMap: $expected keys of $w words exceed the 2^29 single-task bound — " +
        "lower Assembler's localThreshold")
    private val cap = Integer.highestOneBit(math.max(16, expected * 2 - 1)) << 1
    private val mask = cap - 1
    private val keys = new Array[Long](cap * w)
    private val vals = new Array[Int](cap)
    private val used = new Array[Boolean](cap)
    private def slot(s: Array[Long], off: Int): Int = {
      // splittable-hash mix, then linear probe
      var h = 0L
      var j = 0
      while (j < w) { h = (h + s(off + j)) * 0x9E3779B97F4A7C15L; j += 1 }
      h ^= h >>> 32
      var i = h.toInt & mask
      while (used(i) && !same(i, s, off)) i = (i + 1) & mask
      i
    }
    private def same(i: Int, s: Array[Long], off: Int): Boolean = {
      var j = 0
      while (j < w && keys(i * w + j) == s(off + j)) j += 1
      j == w
    }
    private def put(i: Int, s: Array[Long], off: Int, v: Int): Unit = {
      used(i) = true; vals(i) = v
      var j = 0
      while (j < w) { keys(i * w + j) = s(off + j); j += 1 }
    }
    /** The key's value, after storing `v` under it if it was absent. */
    def getOrPut(s: Array[Long], off: Int, v: Int): Int = {
      val i = slot(s, off)
      if (!used(i)) put(i, s, off, v)
      vals(i)
    }
    /** The key's value, or -1. */
    def get(s: Array[Long], off: Int): Int = {
      val i = slot(s, off)
      if (used(i)) vals(i) else -1
    }
  }

  /** Last-mile contraction over word stores: fragment i has endpoints
    * `heads`/`tails` at `i·w` and sequence `seqs(i)`. After the fork filter
    * fragment heads are unique, so the walk is deterministic; one growable
    * Builder per chain keeps concatenation linear. A cycle may open at
    * another rotation than the distributed merge order, but cycles are
    * normalized to their minimal rotation downstream. Returns one `(first
    * fragment, last fragment, sequence)` per chain. */
  private[operators] def walkChains(heads: Array[Long], tails: Array[Long],
                                    seqs: Array[Array[Long]],
                                    k: Int): Iterator[(Int, Int, Array[Long])] = {
    val w = KmerCodec.wordsFor(k)
    val n = seqs.length
    val byHead = new WordMap(w, n)
    val tailSet = new WordMap(w, n)
    var i = 0
    while (i < n) {
      require(byHead.getOrPut(heads, i * w, i) == i,
        "duplicate fragment head — fork-filter degree invariant broken")
      tailSet.getOrPut(tails, i * w, i)
      i += 1
    }
    val visited = new Array[Boolean](n)
    val emitted = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Array[Long])]
    def walk(si: Int): Unit = {
      val bld = new KmerCodec.Builder(KmerCodec.lengthOf(seqs(si)))
      bld.appendAll(seqs(si))
      visited(si) = true
      var last = si
      var ni = byHead.get(tails, si * w)
      while (ni >= 0 && ni != si) {
        visited(ni) = true
        val g = seqs(ni)
        val len = KmerCodec.lengthOf(g)
        var j = k - 1
        while (j < len) { bld.append(KmerCodec.baseAt(g, j)); j += 1 }
        last = ni
        ni = byHead.get(tails, ni * w)
      }
      emitted += ((si, last, bld.result()))
    }
    (0 until n).foreach(i => if (tailSet.get(heads, i * w) < 0) walk(i)) // open paths
    (0 until n).foreach(i => if (!visited(i)) walk(i)) // cycles
    emitted.iterator
  }

  /** [[walkChains]] over fragment rows of a regime. */
  private def walkFrags[K](r: KeyRegime[K], frags: Iterator[Frag[K]], k: Int): Iterator[Frag[K]] = {
    val w = KmerCodec.wordsFor(k)
    val fs = frags.toVector
    val (heads, tails) = (new Array[Long](fs.length * w), new Array[Long](fs.length * w))
    fs.indices.foreach { i => r.put(fs(i).head, heads, i * w); r.put(fs(i).tail, tails, i * w) }
    walkChains(heads, tails, fs.map(_.seq).toArray, k)
      .map { case (s, t, seq) => r.frag(heads, s * w, tails, t * w, w, seq) }
  }

  /** RC-mirrored oriented edges as a stride-w k-mer store and its counts —
    * the single-task form of [[mirror]], row for row. */
  private[operators] def mirrorLocal[K](r: KeyRegime[K], canon: Iterator[(K, Long)],
                                        k: Int): (Array[Long], Array[Long]) = {
    val w = KmerCodec.wordsFor(k)
    val km = Array.newBuilder[Long]
    val cn = Array.newBuilder[Long]
    val (fw, rc) = (new Array[Long](w), new Array[Long](w))
    canon.foreach { case (kmer, c) =>
      r.put(kmer, fw, 0)
      KmerCodec.rcWords(fw, 0, k, rc, 0)
      km ++= fw; cn += c
      if (KmerCodec.compareWords(fw, 0, rc, 0, w) != 0) { km ++= rc; cn += c }
    }
    (km.result(), cn.result())
  }

  /** One fork side over all the store's edges, grouped by head (prefix) or
    * tail (suffix) node key: [[ForkRule.node]] per group marks the kept arms
    * in `keep` and adds barrier node keys to `barriers`. A counting sort
    * lines each group's arms up in one array, so no group allocates. */
  private def forkSideLocal(km: Array[Long], cn: Array[Long], k: Int,
                            head: Boolean, rule: ForkRule, keep: Array[Boolean],
                            barriers: scala.collection.mutable.ArrayBuilder[Long]): Unit = {
    val w = KmerCodec.wordsFor(k)
    val n = cn.length
    val ids = new WordMap(w, n)
    val key = new Array[Long](w)
    val group = new Array[Int](n)
    val start = new Array[Int](n + 1) // group g's arms: [start(g), start(g + 1))
    var ng = 0
    var e = 0
    while (e < n) {
      endKey(km, e * w, k, head, salted = false, key, 0)
      group(e) = ids.getOrPut(key, 0, ng)
      if (group(e) == ng) ng += 1
      start(group(e) + 1) += 1
      e += 1
    }
    (1 to ng).foreach(g => start(g) += start(g - 1))
    val arms = new Array[Int](n)
    val next = java.util.Arrays.copyOf(start, ng)
    (0 until n).foreach { e => arms(next(group(e))) = e; next(group(e)) += 1 }
    (0 until ng).foreach { g =>
      if (rule.node(arms, start(g), start(g + 1) - start(g), km, cn, k, keep)) {
        endKey(km, arms(start(g)) * w, k, head, salted = false, key, 0)
        barriers ++= key
      }
    }
  }

  /** The fork filter over a mirrored edge store: (surviving edge indices,
    * barrier node keys as a stride-w store — possibly repeated). */
  private[operators] def forkLocal(km: Array[Long], cn: Array[Long], k: Int,
                                   rule: ForkRule): (Array[Int], Array[Long]) = {
    val (byHead, byTail) = (new Array[Boolean](cn.length), new Array[Boolean](cn.length))
    val barriers = Array.newBuilder[Long]
    forkSideLocal(km, cn, k, head = true, rule, byHead, barriers)
    forkSideLocal(km, cn, k, head = false, rule, byTail, barriers)
    (Array.range(0, cn.length).filter(e => byHead(e) && byTail(e)), barriers.result())
  }

  /** The whole assembly below the k-mer gate, in one task: mirror the solid
    * canonical count rows, fork-filter them exactly as the distributed seed
    * does ([[forkLocal]], plus the barrier salting of [[endKey]]), seed one
    * fragment per surviving edge and walk the chains ([[walkChains]]). */
  private[operators] def assembleLocal[K](r: KeyRegime[K], canon: Iterator[(K, Long)], k: Int,
                                          rule: ForkRule): Iterator[Frag[K]] = {
    val w = KmerCodec.wordsFor(k)
    val (km, cn) = mirrorLocal(r, canon, k)
    val (kept, barriers) = forkLocal(km, cn, k, rule)
    val isBarrier = new WordMap(w, barriers.length / w)
    (0 until barriers.length by w).foreach(o => isBarrier.getOrPut(barriers, o, 0))
    val (heads, tails) = (new Array[Long](kept.length * w), new Array[Long](kept.length * w))
    val seqs = new Array[Array[Long]](kept.length)
    def end(e: Int, head: Boolean, dst: Array[Long], o: Int): Unit = {
      endKey(km, e, k, head, salted = false, dst, o)
      if (rule.scramble && isBarrier.get(dst, o) >= 0) endKey(km, e, k, head, salted = true, dst, o)
    }
    kept.indices.foreach { p =>
      end(kept(p) * w, head = true, heads, p * w); end(kept(p) * w, head = false, tails, p * w)
      seqs(p) = KmerCodec.wordsToBlocks(km, kept(p) * w, k)
    }
    walkChains(heads, tails, seqs, k)
      .map { case (s, t, seq) => r.frag(heads, s * w, tails, t * w, w, seq) }
  }

  /** (fragment count, total bases) in one cached-scan job. Both sides of
    * the last-mile gate come from the same pass: the row count drives the
    * convergence probe, the base total keeps the single-task endgame from
    * swallowing more sequence than one executor holds. */
  private[operators] def fragStats[K](frags: Dataset[Frag[K]]): (Long, Long) = {
    import frags.sparkSession.implicits._
    frags.mapPartitions { it =>
      var n = 0L; var b = 0L
      it.foreach { f => n += 1; b += KmerCodec.lengthOf(f.seq) }
      Iterator((n, b))
    }.collect().foldLeft((0L, 0L)) { case ((an, ab), (cn, cb)) => (an + cn, ab + cb) }
  }

  /** One contraction round (J1 + P9): merge adjacent fragments whose coins
    * line up. Exactly one offer per fragment => each key group holds at
    * most one head-offer and one tail-offer. */
  private[operators] def mergeRound[K](r: KeyRegime[K], frags: Dataset[Frag[K]],
                                       k: Int, iter: Int): Dataset[Frag[K]] =
    frags
      .groupByKey(f => r.offer(f, r.coin(f, iter)))(r.keyEnc)
      .flatMapGroups { (_, it) =>
        val (hs, ts) = it.toSeq.partition(r.coin(_, iter))
        val heads = hs.sorted(r.pairOrder)
        val tails = ts.sorted(r.pairOrder)
        val merged = heads.zip(tails).map { case (a, b) =>
          val lenB = KmerCodec.lengthOf(b.seq)
          Frag(a.head, b.tail, KmerCodec.concatBlocks(a.seq, KmerCodec.sliceBlocks(b.seq, k - 1, lenB)))
        }
        val rest = heads.drop(tails.length) ++ tails.drop(heads.length)
        (merged ++ rest).iterator
      }(r.fragEnc)

  /** RC-mirrored oriented edges `(word-key k-mer, count)` over canonical
    * counts — the distributed form of [[mirrorLocal]], row for row. */
  private[operators] def mirror[K](r: KeyRegime[K], counts: DataFrame, k: Int): Dataset[(K, Long)] = {
    val w = KmerCodec.wordsFor(k)
    counts.as[(K, Long)](r.countEnc).flatMap { case (kmer, c) =>
      val (fw, rc) = (new Array[Long](w), new Array[Long](w))
      r.put(kmer, fw, 0)
      KmerCodec.rcWords(fw, 0, k, rc, 0)
      if (KmerCodec.compareWords(fw, 0, rc, 0, w) == 0) Iterator((r.key(fw, 0, w), c))
      else Iterator((r.key(fw, 0, w), c), (r.key(rc, 0, w), c))
    }(r.countEnc)
  }

  /** A distributed fork-filter row: an oriented edge, whether every side so
    * far kept it, and whether its node on the last side is a barrier. */
  private[operators] case class Arm[K](kmer: K, count: Long, kept: Boolean, barrier: Boolean)

  /** One fork side over distributed arms: a sort-based (spillable)
    * `groupByKey` on the head or tail node key, then [[ForkRule.node]] per
    * group; an arm stays `kept` iff it was and this side keeps it. */
  private def forkSide[K](r: KeyRegime[K], arms: Dataset[Arm[K]], k: Int, head: Boolean,
                          rule: ForkRule): Dataset[Arm[K]] = {
    val w = KmerCodec.wordsFor(k)
    arms.groupByKey(a => r.node(a.kmer, k, head))(r.keyEnc).flatMapGroups { (_, it) =>
      val as = it.toArray
      val km = new Array[Long](as.length * w)
      as.indices.foreach(i => r.put(as(i).kmer, km, i * w))
      val keep = new Array[Boolean](as.length)
      val barrier = rule.node(as.indices.toArray, 0, as.length, km, as.map(_.count), k, keep)
      as.indices.iterator.map(i => as(i).copy(kept = as(i).kept && keep(i), barrier = barrier))
    }(r.armEnc)
  }

  /** The fork filter over mirrored edges ([[forkLocal]], distributed): the
    * surviving k-mers, each with the barrier flags of its head and tail
    * node, left-joined on word keys from both sides' barrier nodes. */
  private[operators] def forkEdges[K](r: KeyRegime[K], edges: Dataset[(K, Long)], k: Int,
                                      rule: ForkRule): Dataset[(K, Boolean, Boolean)] = {
    val byHead = forkSide(r, edges.map { case (km, c) => Arm(km, c, kept = true, barrier = false) }(r.armEnc),
      k, head = true, rule)
    val byTail = forkSide(r, byHead, k, head = false, rule)
    val kept = byTail.filter(_.kept)
    if (!rule.scramble) kept.map(a => (a.kmer, false, false))(r.edgeEnc)
    else {
      def barriers(side: Dataset[Arm[K]], head: Boolean) =
        side.filter(_.barrier).map(a => r.node(a.kmer, k, head))(r.keyEnc).toDF("b")
      val b = barriers(byHead, head = true).union(barriers(byTail, head = false)).distinct()
      kept.map(a => (a.kmer, r.node(a.kmer, k, head = true), r.node(a.kmer, k, head = false)))(r.nodesEnc)
        .toDF("kmer", "prefix", "suffix")
        .join(b.select(col("b").as("bp")), col("prefix") === col("bp"), "left")
        .join(b.select(col("b").as("bs")), col("suffix") === col("bs"), "left")
        .select(col("kmer"), col("bp").isNotNull, col("bs").isNotNull)
        .as(r.edgeEnc)
    }
  }

  /** P6 + J2, distributed: mirror the solid k-mers, fork-filter them so
    * every (k-1)-mer node keeps at most one out- and one in-edge, and seed
    * one fragment per surviving edge; a barrier flag salts that end
    * ([[endKey]]). */
  private def seed[K](r: KeyRegime[K], solid: DataFrame, k: Int, rule: ForkRule): Dataset[Frag[K]] = {
    val w = KmerCodec.wordsFor(k)
    forkEdges(r, mirror(r, solid, k), k, rule).map { case (km, sh, st) =>
      val e = new Array[Long](3 * w)
      r.put(km, e, 0)
      endKey(e, 0, k, head = true, salted = sh, e, w)
      endKey(e, 0, k, head = false, salted = st, e, 2 * w)
      r.frag(e, w, e, 2 * w, w, KmerCodec.wordsToBlocks(e, 0, k))
    }(r.fragEnc)
  }

  /** Full single-k assembly from canonical k-mer counts `(key, count)` keyed
    * as [[Genomics.countCanonical]] keys them: a `bigint` key (k <= 31) or
    * an `array<bigint>` word key at any k (see Key regimes). Returns
    * canonical contig strings (each unitig assembles on both strands; keep
    * min(contig, rc) once).
    *
    * `ckptDir`: when set, probe-point fragment snapshots are written to
    * reliable storage (round-tagged Parquet via [[graft.sources.StageRunner]])
    * instead of `localCheckpoint` — on a real cluster a lost executor after
    * round 50 recomputes from the last durable round, and a restarted
    * driver RESUMES the contraction at the latest completed round (the
    * per-round coins are hashes of (endpoints, round), so a resumed run is
    * bit-identical to an uninterrupted one). `None` keeps the cheap
    * memory-local truncation for short interactive runs.
    *
    * `localThreshold`: the single-task gate on rows (see the object doc),
    * capped at [[RowCap]] (4M rows, the default, at every k). It is checked
    * first on the solid k-mer table (`2n <= gate` for n solid k-mers sends
    * the whole assembly to [[assembleLocal]]), then on the fragment count,
    * which the rounds shrink geometrically until one chain walk replaces
    * the remaining shuffle barriers. [[MaxLocalBases]] bounds the bases at
    * both checks. Set 0 to force the fully distributed path. */
  def assemble(counts: DataFrame, k: Int, minCov: Int = 1, maxIter: Int = 60,
               probeEvery: Int = 3, minContig: Int = 0,
               ckptDir: Option[String] = None,
               popBubbles: Boolean = true,
               localThreshold: Long = Long.MaxValue,
               minError: Int = 0,
               scramble: Boolean = false): Dataset[String] = {
    val r: KeyRegime[_] = counts.schema.head.dataType match {
      case org.apache.spark.sql.types.LongType =>
        require(k <= 31, s"assemble: a bigint k-mer key holds k <= 31, got k = $k"); LongKeys
      case _ => WordKeys
    }
    drive(r, counts, k, minCov, maxIter, probeEvery, minContig, ckptDir, popBubbles,
      localThreshold, minError, scramble)
  }

  /** [[assemble]] in an explicit key regime. */
  private def drive[K](
      r: KeyRegime[K], counts: DataFrame, k: Int, minCov: Int, maxIter: Int,
      probeEvery: Int, minContig: Int, ckptDir: Option[String], popBubbles: Boolean,
      localThreshold: Long, minError: Int, scramble: Boolean): Dataset[String] = {
    val s = counts.sparkSession
    import s.implicits._
    implicit val fragEnc: Encoder[Frag[K]] = r.fragEnc
    val rows = math.min(localThreshold, RowCap)
    val rule = ForkRule(popBubbles, minError, scramble)
    val runner = ckptDir.map(new StageRunner(s, _))
    val resumeIter = runner.toSeq.flatMap(_.completed("frags_i"))
      .map(_.stripPrefix("frags_i").toInt).maxOption
    def durable(name: String, ds: => Dataset[Frag[K]]): Dataset[Frag[K]] =
      runner.get.stage(name)(ds.toDF()).as[Frag[K]]
    /** Distributed contraction from materialized fragments at round `from`. */
    def contract(start: Dataset[Frag[K]], from: Int): Dataset[Frag[K]] = {
      var frags = start
      var lastCkpt: Dataset[Frag[K]] = frags
      var lastCount = -1L
      var iter = from
      var done = false
      // the start state is already materialized, so this stats pass is one
      // cheap cached-scan job — it decides distributed-vs-local entry
      var (n, bases) = fragStats(frags)
      Counters.add("assembler.seed_rows", n)
      while (iter < maxIter && !done) {
        if (n <= rows && bases <= MaxLocalBases) {
          // last-mile: the fragments fit one task — finish the contraction
          // in a single chain-following pass instead of more rounds.
          Counters.add("assembler.endgame_rows", n)
          Counters.add("assembler.endgame_bases", bases)
          frags = frags.coalesce(1).mapPartitions(it => walkFrags(r, it, k))
          done = true
        } else {
          frags = mergeRound(r, frags, k, iter)
          iter += 1
          if (iter % probeEvery == 0) {
            val ckpt = runner match {
              case Some(rn) =>
                val name = s"frags_i$iter"
                val df = durable(name, frags)
                rn.completed("frags_i").filterNot(_ == name).foreach(rn.clean)
                df
              case None =>
                val c = frags.localCheckpoint()
                if (lastCkpt != null) Fixpoint.release(lastCkpt)
                lastCkpt = c
                c
            }
            frags = ckpt
            // Two-tier convergence probe (A4, made exact): merges strictly
            // shrink the count, so a changed count means "not done" without
            // any further work; only when the count stalls run the exact
            // test — a merge is still possible iff some junction is both a
            // tail and a head of open (non-cycle) fragments. Never a false
            // stop, and the intersect runs O(1) times in the common case.
            locally { val st = fragStats(ckpt); n = st._1; bases = st._2 }
            if (n == lastCount) {
              val open = ckpt.filter(f => !f.closed).toDF()
              done = open.select(col("tail")).intersect(open.select(col("head")))
                .isEmpty
            }
            lastCount = n
          }
        }
      }
      Counters.add("assembler.rounds", (iter - from).toLong)
      frags
    }

    val frags = resumeIter match {
      // on resume the seed lineage is never built, let alone executed
      case Some(i) => contract(durable(s"frags_i$i", sys.error("resume never recomputes")), i)
      case None =>
        val solid = counts.filter(col("count") >= minCov)
        // one count of the solid k-mers decides the path; the same job
        // materializes their checkpoint, which the seed or the single task
        // then reads instead of re-running the k-mer count
        val table = if (maxIter > 0) solid.localCheckpoint(eager = false) else solid
        val n = if (maxIter > 0) table.count() else -1L
        if (n >= 0 && 2 * n <= rows && 2 * n * k <= MaxLocalBases) {
          Counters.add("assembler.local_kmers", n)
          // coalesce, not repartition: narrow read of the cached partitions
          table.as[(K, Long)](r.countEnc).coalesce(1)
            .mapPartitions(it => assembleLocal(r, it, k, rule))
        } else {
          def seeded = seed(r, table, k, rule)
          // checkpoint the seed fragments: without this, every round
          // before the first probe re-executes the fork-filter lineage
          contract(
            if (runner.isEmpty) seeded.localCheckpoint() else durable("frags_i0", seeded), 0)
        }
    }

    frags
      .map { f =>
        normalizeContig(KmerCodec.decodeBlocks(f.seq),
          KmerCodec.decodeBlocks(KmerCodec.rcBlocks(f.seq)), closed = f.closed, k)
      }
      .distinct()
      .filter(c => c.length >= minContig)
  }

  /** Canonical contig string from a contracted fragment's decoded
    * sequence. Open paths: min(fw, rc) — each unitig assembles on both
    * strands and must dedup to one row. Closed cycles (head == tail): the
    * two strands open at independent rotations, so plain min(fw, rc)
    * cannot dedup them — normalize the cycle core to its minimal rotation
    * over both strands and re-append the k-1 wrap (wrapping cyclically:
    * a core shorter than k-1, i.e. a tandem repeat of period < k-1, must
    * wrap around more than once). Shared by both k regimes. */
  private[operators] def normalizeContig(fw: String, rcOf: => String,
                                         closed: Boolean, k: Int): String =
    if (closed && fw.length > k - 1) {
      val core = fw.substring(0, fw.length - (k - 1))
      val rcCore = core.reverse.map {
        case 'A' => 'T'; case 'C' => 'G'; case 'G' => 'C'; case 'T' => 'A'
      }
      val m1 = minRotation(core)
      val m2 = minRotation(rcCore)
      val m = if (m1 <= m2) m1 else m2
      m + (m * ((k - 2) / m.length + 1)).substring(0, k - 1)
    } else {
      val rc = rcOf
      if (fw <= rc) fw else rc
    }

  /** Booth's algorithm: lexicographically minimal rotation in O(n). */
  private[operators] def minRotation(s: String): String = {
    val n = s.length
    if (n == 0) return s
    val ss = s + s
    var i = 0; var j = 1; var len = 0
    while (i < n && j < n && len < n) {
      val a = ss.charAt(i + len); val b = ss.charAt(j + len)
      if (a == b) len += 1
      else {
        if (a > b) i = math.max(i + len + 1, j) else j = math.max(j + len + 1, i)
        if (i == j) j = i + 1
        len = 0
      }
    }
    val start = math.min(i, j)
    ss.substring(start, start + n)
  }

  /** Per-document micro-assembly over deterministic DNA: reads are sliding
    * windows (len 32, step 8) of each document's 64-base sequence; k=21
    * unitigs reconstruct each document's full sequence. Oracle-checkable
    * because collision-free inputs make the assembler's fixpoint exactly
    * `least(seq, rc(seq))` per document. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "a1_assembly" -> ((s, d) => {
      import s.implicits._
      val reads = documents(s, d)
        .select(Genomics.dna64(col("doc_id")).as("g"))
        .select(explode(expr("transform(sequence(1, 33, 8), i -> substring(g, i, 32))")).as("read"))
        .as[String]
      val counts = Genomics.countCanonical(reads, 21)
      assemble(counts, 21, minCov = 1, maxIter = 120).toDF("contig")
    }),

    // a2: the a1 pipeline in the word key regime (k=40, w=2, over 64-base
    // docs, reads = sliding windows len 48 step 8). Same closed-form oracle.
    "a2_assembly_wide" -> ((s, d) => {
      import s.implicits._
      val reads = documents(s, d)
        .select(Genomics.dna64(col("doc_id")).as("g"))
        .select(explode(expr("transform(sequence(1, 17, 8), i -> substring(g, i, 48))")).as("read"))
        .as[String]
      assemble(Genomics.countCanonical(reads, 40), 40, minCov = 1, maxIter = 120).toDF("contig")
    }),

    // -- assembly report: contig count, total/max bp, N50 ------------------
    // the number every assembler prints; all-integer arithmetic (N50 via
    // 2*cumulative >= total avoids any fraction). The ranking window runs
    // over the CONTIG table — output-sized, tiny next to the k-mer table.
    "a4_assembly_stats" -> ((s, d) => {
      import s.implicits._
      val reads = documents(s, d)
        .select(Genomics.dna64(col("doc_id")).as("g"))
        .select(explode(expr("transform(sequence(1, 33, 8), i -> substring(g, i, 32))")).as("read"))
        .as[String]
      val counts = Genomics.countCanonical(reads, 21)
      val lens = assemble(counts, 21, minCov = 1, maxIter = 120)
        .toDF("contig").select(length(col("contig")).cast("long").as("len"))
      val w = Window.orderBy(col("len").desc).rowsBetween(Window.unboundedPreceding, Window.currentRow)
      lens
        .withColumn("cum", sum(col("len")).over(w))
        .withColumn("total", sum(col("len")).over(Window.partitionBy()))
        .agg(count(lit(1)).as("n_contigs"),
          max(col("total")).as("total_bp"),
          max(col("len")).as("max_bp"),
          max(when(col("cum") * 2 >= col("total"), col("len"))).as("n50"))
    })
  )

  /** a5 (VERDICT r12 #6): the reference repo's bundled example reads — the
    * only REAL dataset the reference ships — as a gated query, so the
    * golden end-to-end flows through the same Verify/oracle/Bench/smoke
    * machinery as everything else instead of living only in
    * DomainRunSpec. SF-INDEPENDENT by construction: the fixture is the
    * reference's own example .fq.gz pair (2300 guarded reads), not the
    * synthetic corpus, so the `sfDir` argument is ignored and the local
    * gate pins the IDENTICAL digest at every SF (documented, per the
    * verdict's done-condition). Orientation is canonicalized
    * (`least(contig, revcomp)`) so the pin is independent of the
    * assembler's deterministic-but-arbitrary strand choice. Reference
    * run: `/root/reference/example/` (reads), defaults k=31 minCov=2. */
  override def localQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "a5_example_assembly" -> ((s, _) => {
      val reads = graft.sources.Fastq.guardReads(
        graft.sources.Fastq.fastqSequences(s, "/root/reference/example/*.fq.gz"),
        minLen = 31)
      val counts = Genomics.countCanonical(reads, 31)
      val canon = least(col("contig"),
        reverse(translate(col("contig"), "ACGT", "TGCA")))
      assemble(counts, 31, minCov = 2, maxIter = 150, minContig = 62)
        .toDF("contig")
        .select(md5(canon.cast("binary")).as("contig_md5"),
          length(col("contig")).cast("long").as("len"))
    }))

  /** a1/a2: each document's 64-base sequence, canonicalized. */
  private val docContigsSql =
    """WITH g AS (SELECT translate(md5(CAST(doc_id AS VARCHAR)), '0123456789abcdef', 'ACGTACGTACGTACGT')
      |  || translate(md5(CAST(doc_id AS VARCHAR) || 'x'), '0123456789abcdef', 'ACGTACGTACGTACGT') AS s
      |  FROM documents)
      |SELECT DISTINCT least(s, reverse(translate(s, 'ACGT', 'TGCA'))) AS contig FROM g""".stripMargin

  def oracles: Map[String, String] = Map(
    "a1_assembly" -> docContigsSql,
    "a2_assembly_wide" -> docContigsSql,
    "a4_assembly_stats" ->
      """WITH g AS (SELECT translate(md5(CAST(doc_id AS VARCHAR)), '0123456789abcdef', 'ACGTACGTACGTACGT')
        |  || translate(md5(CAST(doc_id AS VARCHAR) || 'x'), '0123456789abcdef', 'ACGTACGTACGTACGT') AS s
        |  FROM documents),
        |contigs AS (SELECT DISTINCT least(s, reverse(translate(s, 'ACGT', 'TGCA'))) AS contig FROM g),
        |lens AS (SELECT CAST(length(contig) AS BIGINT) AS len FROM contigs),
        |cums AS (SELECT len,
        |    SUM(len) OVER (ORDER BY len DESC ROWS UNBOUNDED PRECEDING) AS cum,
        |    SUM(len) OVER () AS total
        |  FROM lens)
        |SELECT COUNT(*) AS n_contigs,
        |  CAST(MAX(total) AS BIGINT) AS total_bp,
        |  MAX(len) AS max_bp,
        |  MAX(CASE WHEN cum * 2 >= total THEN len END) AS n50
        |FROM cums""".stripMargin
  )
}
