package graft.operators

/** DNA fixtures shared by the assembly specs. */
object Dna {
  def rcStr(s: String): String =
    s.reverse.map { case 'A' => 'T'; case 'C' => 'G'; case 'G' => 'C'; case 'T' => 'A' }
  def canonStr(s: String): String = { val r = rcStr(s); if (s <= r) s else r }

  def randGenome(n: Int, seed: Long): String = {
    val r = new scala.util.Random(seed)
    Array.fill(n)("ACGT"(r.nextInt(4))).mkString
  }

  /** The word key (`KmerCodec`'s word section) of an oriented ACGT k-mer,
    * computed independently as one BigInt split into 64-bit words. */
  def wordKey(s: String): Array[Long] = {
    val v = s.foldLeft(BigInt(0))((a, c) => a * 4 + "ACGT".indexOf(c.toUpper))
    val w = graft.core.KmerCodec.wordsFor(s.length)
    Array.tabulate(w)(j => (v >> (64 * (w - 1 - j))).toLong)
  }

  /** Error-free sliding-window reads, half reverse-complemented. */
  def reads(genome: String, len: Int, step: Int): Seq[String] =
    ((0 to genome.length - len by step) :+ (genome.length - len)).distinct.map { i =>
      val w = genome.substring(i, i + len)
      if (i % 2 == 0) w else rcStr(w)
    }
}
