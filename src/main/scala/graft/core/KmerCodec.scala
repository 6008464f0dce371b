package graft.core

/** 2-bit nucleotide codec — the value representation at the heart of the
  * engine (semantics per reference: `ReflexivDataFrameCounter.java:430-525`
  * ACGT<->2bit; `ReflexivDSDynamicKmer64.java:2713-2722` C-marker length
  * self-encoding; canonical = min(fwd, rc) per
  * `ReflexivDataFrameCounter.java:488-506`). Implementation here is fresh,
  * Scala-first, and shared by every operator — the reference re-inlines this
  * bit algebra across ~20 classes.
  *
  * Two physical forms:
  *  - word keys: a fixed-k k-mer of any k as a right-aligned 2k-bit integer
  *    in `wordsFor(k)` longs, high word first — the one k-mer key from count
  *    to contig. At k <= 31 (one word) it is the packed `Long`: base 0 in
  *    the most-significant used 2-bit slot, so numeric order ==
  *    lexicographic order for equal k. No length marker (k is carried
  *    alongside).
  *  - `Array[Long]` "binary blocks" for arbitrary-length sequences (contig
  *    fragments, not keys): 31 bases per long, MSB-first (slot i of a block
  *    occupies bits [63-2i-1, 63-2i]), terminated by a sentinel `01` bit-pair
  *    in the slot after the last base ("C marker"). Length is self-encoded
  *    and recovered from the trailing zero count of the final block; an
  *    exactly-full block pushes the sentinel into a fresh block (`1L << 62`).
  */
object KmerCodec {

  /** ACGT -> 0..3; anything else (incl. N) -> -1. */
  @inline def code(c: Char): Int = c match {
    case 'A' | 'a' => 0
    case 'C' | 'c' => 1
    case 'G' | 'g' => 2
    case 'T' | 't' => 3
    case _         => -1
  }

  @inline def base(b: Int): Char = (b: @annotation.switch) match {
    case 0 => 'A'
    case 1 => 'C'
    case 2 => 'G'
    case 3 => 'T'
  }

  // ---------------------------------------------------------------- Long form

  /** Pack s[from, from+k) into a Long, MSB-first. Requires 1 <= k <= 31 and
    * pure ACGT input (returns -1 if any base is invalid). */
  def encodeLong(s: CharSequence, from: Int, k: Int): Long = {
    require(k >= 1 && k <= 31, s"encodeLong requires 1 <= k <= 31, got $k")
    var v = 0L
    var i = 0
    while (i < k) {
      val c = code(s.charAt(from + i))
      if (c < 0) return -1L
      v = (v << 2) | c
      i += 1
    }
    v
  }

  def encodeLong(s: String): Long = encodeLong(s, 0, s.length)

  def decodeLong(v: Long, k: Int): String = {
    val out = new Array[Char](k)
    var i = 0
    while (i < k) {
      out(k - 1 - i) = base(((v >>> (2 * i)) & 3L).toInt)
      i += 1
    }
    new String(out)
  }

  /** Reverse complement of a k-packed Long. */
  def rcLong(v: Long, k: Int): Long = {
    var out = 0L
    var i = 0
    while (i < k) {
      out = (out << 2) | (((v >>> (2 * i)) & 3L) ^ 3L)
      i += 1
    }
    out
  }

  @inline def canonicalLong(v: Long, k: Int): Long = {
    val rc = rcLong(v, k)
    if (v <= rc) v else rc // k<=31 => top bits 0 => signed compare is fine
  }

  @inline def kmerMask(k: Int): Long = (1L << (2 * k)) - 1

  /** Rolling forward update: drop oldest base, append c. */
  @inline def rollForward(v: Long, c: Int, k: Int): Long =
    ((v << 2) | c) & kmerMask(k)

  /** Rolling RC update: the RC of the window slides from the high end. */
  @inline def rollRc(rc: Long, c: Int, k: Int): Long =
    (rc >>> 2) | ((c.toLong ^ 3L) << (2 * (k - 1)))

  // ------------------------------------------------------------- block arrays

  final val BasesPerBlock = 31

  /** Number of longs needed for an L-base sequence + sentinel. */
  @inline def blocksFor(len: Int): Int = len / BasesPerBlock + 1

  /** Decoded base count of a block array (C-marker). */
  def lengthOf(b: Array[Long]): Int = {
    val last = b(b.length - 1)
    val m = (62 - java.lang.Long.numberOfTrailingZeros(last)) / 2
    BasesPerBlock * (b.length - 1) + m
  }

  @inline def baseAt(b: Array[Long], i: Int): Int =
    ((b(i / BasesPerBlock) >>> (62 - 2 * (i % BasesPerBlock))) & 3L).toInt

  /** Mutable sequential writer of 2-bit codes into block form. One-shot:
    * after result() the builder is finished and further use throws. */
  final class Builder(expectedLen: Int) {
    private var arr = new Array[Long](blocksFor(math.max(expectedLen, 0)))
    private var n = 0
    private var finished = false
    def length: Int = n
    def append(c: Int): this.type = {
      if (finished) throw new IllegalStateException("Builder already finished")
      val blk = n / BasesPerBlock
      if (blk >= arr.length) arr = java.util.Arrays.copyOf(arr, arr.length * 2 + 1)
      arr(blk) |= c.toLong << (62 - 2 * (n % BasesPerBlock))
      n += 1
      this
    }
    def appendAll(b: Array[Long]): this.type = {
      val len = lengthOf(b)
      var i = 0
      while (i < len) { append(baseAt(b, i)); i += 1 }
      this
    }
    def result(): Array[Long] = {
      if (finished) throw new IllegalStateException("Builder already finished")
      finished = true
      val need = blocksFor(n)
      val out = if (arr.length == need) arr else java.util.Arrays.copyOf(arr, need)
      out(n / BasesPerBlock) |= 1L << (62 - 2 * (n % BasesPerBlock)) // sentinel
      arr = null
      out
    }
  }

  /** Encode an ACGT string (invalid bases rejected -> null). */
  def encodeBlocks(s: String): Array[Long] = {
    val bld = new Builder(s.length)
    var i = 0
    while (i < s.length) {
      val c = code(s.charAt(i))
      if (c < 0) return null
      bld.append(c)
      i += 1
    }
    bld.result()
  }

  def decodeBlocks(b: Array[Long]): String = {
    val len = lengthOf(b)
    val out = new Array[Char](len)
    var i = 0
    while (i < len) { out(i) = base(baseAt(b, i)); i += 1 }
    new String(out)
  }

  def sliceBlocks(b: Array[Long], from: Int, until: Int): Array[Long] = {
    require(from >= 0 && from <= until && until <= lengthOf(b),
      s"sliceBlocks: [$from,$until) out of range for length ${lengthOf(b)}")
    val bld = new Builder(until - from)
    var i = from
    while (i < until) { bld.append(baseAt(b, i)); i += 1 }
    bld.result()
  }

  def concatBlocks(a: Array[Long], b: Array[Long]): Array[Long] =
    new Builder(lengthOf(a) + lengthOf(b)).appendAll(a).appendAll(b).result()

  def rcBlocks(b: Array[Long]): Array[Long] = {
    val len = lengthOf(b)
    val bld = new Builder(len)
    var i = len - 1
    while (i >= 0) { bld.append(baseAt(b, i) ^ 3); i -= 1 }
    bld.result()
  }

  // -------------------------------------------------------------- word keys
  // A fixed-k key as a right-aligned 2k-bit integer in `wordsFor(k)` longs
  // at an offset of a flat store, high word first: base i of a k-mer sits
  // in bits [2(k-1-i), 2(k-1-i)+1]. The top two bits of the top word stay
  // clear (w = ceil((2k+2)/64)), so at k <= 31 this is the packed Long, and
  // unsigned order, top word first, is lexicographic order for equal k.

  @inline def wordsFor(k: Int): Int = k / 32 + 1

  /** Word index and bit shift of base i of the k-mer at `s[off, off + w)`. */
  @inline private def wordOf(off: Int, k: Int, i: Int): Int = off + k / 32 - ((k - 1 - i) >>> 5)
  @inline private def shiftOf(k: Int, i: Int): Int = 2 * ((k - 1 - i) & 31)

  /** The k-mer at `s[off, off + w)` in block form. */
  def wordsToBlocks(s: Array[Long], off: Int, k: Int): Array[Long] = {
    val bld = new Builder(k)
    var i = 0
    while (i < k) { bld.append(((s(wordOf(off, k, i)) >>> shiftOf(k, i)) & 3L).toInt); i += 1 }
    bld.result()
  }

  /** Reverse complement of the k-mer at `s[off, off + w)` into
    * `dst[doff, doff + w)`, a word at a time: complement, reverse the 2-bit
    * groups of the whole key, then shift right past the clear top bits. */
  def rcWords(s: Array[Long], off: Int, k: Int, dst: Array[Long], doff: Int): Unit = {
    val w = wordsFor(k)
    val sh = 64 - 2 * (k & 31) // clear top bits, 2 to 64
    var hi = 0L
    var j = 0
    while (j < w) { // lo: word j of the reversed, complemented key
      val r = java.lang.Long.reverse(~s(off + w - 1 - j))
      val lo = ((r >>> 1) & 0x5555555555555555L) | ((r & 0x5555555555555555L) << 1)
      dst(doff + j) = if (sh == 64) hi else (lo >>> sh) | (hi << (64 - sh))
      hi = lo
      j += 1
    }
  }

  /** Unsigned compare of two w-word keys, top word first. */
  def compareWords(a: Array[Long], ao: Int, b: Array[Long], bo: Int, w: Int): Int = {
    var j = 0
    while (j < w && a(ao + j) == b(bo + j)) j += 1
    if (j == w) 0 else java.lang.Long.compareUnsigned(a(ao + j), b(bo + j))
  }

  // ------------------------------------------------------ attribute word
  // Packed (marker, left, right) attribute — the reference's
  // `buildingAlongFromThreeInt` / `getReflexivMarker/LeftMarker/RightMarker`
  // (`ReflexivDSDynamicKmer64.java:2685-2711,2174-2198`) re-specified
  // cleanly: 2-bit marker in bits 62-63, then two 31-bit fields holding
  // left/right cover-or-fork marks with a zig-zag-free offset encoding
  // (value + 2^30) so negatives round-trip exactly.

  final val AttrFieldOffset = 1 << 30
  private val AttrFieldMask = (1L << 31) - 1

  /** Pack marker (0..3) + left/right in [-2^30, 2^30). */
  def packAttr(marker: Int, left: Int, right: Int): Long = {
    require(marker >= 0 && marker <= 3, s"marker out of range: $marker")
    require(left >= -AttrFieldOffset && left < AttrFieldOffset, s"left out of range: $left")
    require(right >= -AttrFieldOffset && right < AttrFieldOffset, s"right out of range: $right")
    (marker.toLong << 62) |
      ((left.toLong + AttrFieldOffset) << 31) |
      (right.toLong + AttrFieldOffset)
  }

  @inline def attrMarker(a: Long): Int = (a >>> 62).toInt
  @inline def attrLeft(a: Long): Int = (((a >>> 31) & AttrFieldMask) - AttrFieldOffset).toInt
  @inline def attrRight(a: Long): Int = ((a & AttrFieldMask) - AttrFieldOffset).toInt
}
