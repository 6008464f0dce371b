package graft.core

/** Streaming k-mer generators over a read — the engine's UDTF-like core
  * (semantics per reference `ReflexivDataFrameCounter.java:448-506`:
  * slide a k-window, maintain forward and reverse-complement packings
  * incrementally, emit the canonical = min of the two; invalid bases
  * (N etc.) reset the window).
  *
  * These run inside `Dataset.flatMap` on executors; they allocate nothing
  * per emitted k-mer in the Long form (k <= 31).
  */
object KmerIter {

  /** Canonical k-mers of `s` as packed Longs, k <= 31, rolling O(1)/base. */
  def canonicalLong(s: CharSequence, k: Int): Iterator[Long] = {
    require(k >= 1 && k <= 31, s"canonicalLong requires 1 <= k <= 31, got $k")
    new Iterator[Long] {
      private var i = 0
      private var run = 0
      private var fwd = 0L
      private var rc = 0L
      private var ready = false
      private var nextVal = 0L
      private def advance(): Unit = {
        while (!ready && i < s.length) {
          val c = KmerCodec.code(s.charAt(i))
          i += 1
          if (c < 0) run = 0
          else {
            fwd = KmerCodec.rollForward(fwd, c, k)
            rc = KmerCodec.rollRc(rc, c, k)
            run += 1
            if (run >= k) {
              nextVal = if (fwd <= rc) fwd else rc
              ready = true
            }
          }
        }
      }
      def hasNext: Boolean = { advance(); ready }
      def next(): Long = {
        advance()
        if (!ready) throw new NoSuchElementException
        ready = false
        nextVal
      }
    }
  }

  /** Canonical k-mers of `s` as word keys (`KmerCodec`'s word section:
    * `wordsFor(k)` longs, right-aligned, high word first) for any k >= 1:
    * the forward window and its reverse complement roll a word at a time,
    * O(k/32) word ops per base. Invalid bases reset the window. */
  def canonicalWords(s: CharSequence, k: Int): Iterator[Array[Long]] = {
    require(k >= 1, s"canonicalWords requires k >= 1, got $k")
    val w = KmerCodec.wordsFor(k)
    val top = (1L << (2 * (k & 31))) - 1 // the top word's key bits
    val (rcWord, rcShift) = (w - 1 - ((k - 1) >>> 5), 2 * ((k - 1) & 31)) // base 0's slot
    new Iterator[Array[Long]] {
      private val fwd = new Array[Long](w)
      private val rc = new Array[Long](w)
      private var i = 0
      private var run = 0
      private var ready = false
      private def advance(): Unit = {
        while (!ready && i < s.length) {
          val c = KmerCodec.code(s.charAt(i))
          i += 1
          if (c < 0) run = 0
          else {
            var j = 0
            while (j < w - 1) { fwd(j) = (fwd(j) << 2) | (fwd(j + 1) >>> 62); j += 1 }
            fwd(w - 1) = (fwd(w - 1) << 2) | c
            fwd(0) &= top
            j = w - 1
            while (j > 0) { rc(j) = (rc(j) >>> 2) | (rc(j - 1) << 62); j -= 1 }
            rc(0) >>>= 2
            rc(rcWord) |= (c ^ 3L) << rcShift
            run += 1
            ready = run >= k
          }
        }
      }
      def hasNext: Boolean = { advance(); ready }
      def next(): Array[Long] = {
        advance()
        if (!ready) throw new NoSuchElementException
        ready = false
        (if (KmerCodec.compareWords(fwd, 0, rc, 0, w) <= 0) fwd else rc).clone()
      }
    }
  }
}
