package graft.core

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Property tests via plain ScalaCheck (the scalatestplus bridge is not in
  * the offline dependency cache — see ADVICE r1). Each property is executed
  * through ScalaCheck's own runner; a failure fails the surrounding test.
  */
trait ScalaCheckRunner { this: AnyFunSuite =>
  def check(p: Prop, minTests: Int = 200): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(minTests), p)
    assert(res.passed, res.status.toString)
  }
}

class KmerCodecSpec extends AnyFunSuite with ScalaCheckRunner {
  import KmerCodec._

  private val dnaGen: Gen[String] =
    Gen.chooseNum(1, 400).flatMap(n => Gen.stringOfN(n, Gen.oneOf('A', 'C', 'G', 'T')))
  private val kmerGen: Gen[String] =
    Gen.chooseNum(1, 31).flatMap(n => Gen.stringOfN(n, Gen.oneOf('A', 'C', 'G', 'T')))

  private def rcStr(s: String): String =
    s.reverse.map { case 'A' => 'T'; case 'C' => 'G'; case 'G' => 'C'; case 'T' => 'A' }

  test("Long roundtrip") {
    check(Prop.forAll(kmerGen) { s => decodeLong(encodeLong(s), s.length) == s })
  }

  test("Long RC is an involution and matches string RC") {
    check(Prop.forAll(kmerGen) { s =>
      val k = s.length
      val v = encodeLong(s)
      decodeLong(rcLong(v, k), k) == rcStr(s) && rcLong(rcLong(v, k), k) == v
    })
  }

  test("Long canonical is symmetric under RC") {
    check(Prop.forAll(kmerGen) { s =>
      val k = s.length
      canonicalLong(encodeLong(s), k) == canonicalLong(encodeLong(rcStr(s)), k)
    })
  }

  test("Long order == lexicographic order for equal k") {
    check(Prop.forAll(kmerGen, kmerGen) { (a0, b0) =>
      val k = math.min(a0.length, b0.length)
      val (a, b) = (a0.take(k), b0.take(k))
      java.lang.Long.compare(encodeLong(a), encodeLong(b)).sign == a.compareTo(b).sign
    })
  }

  test("rolling updates match re-encode") {
    check(Prop.forAll(Gen.chooseNum(2, 31), dnaGen) { (k, s) =>
      s.length < k || {
        var fwd = encodeLong(s, 0, k)
        var rc = rcLong(fwd, k)
        var ok = true
        var i = k
        while (i < s.length) {
          val c = code(s.charAt(i))
          fwd = rollForward(fwd, c, k)
          rc = rollRc(rc, c, k)
          ok &&= fwd == encodeLong(s, i - k + 1, k)
          ok &&= rc == rcLong(fwd, k)
          i += 1
        }
        ok
      }
    })
  }

  test("blocks roundtrip incl. exact block boundaries") {
    for (n <- Seq(1, 30, 31, 32, 61, 62, 63, 93, 124)) {
      val s = Iterator.continually("ACGT").flatten.take(n).mkString
      assert(decodeBlocks(encodeBlocks(s)) == s)
      assert(lengthOf(encodeBlocks(s)) == n)
    }
    check(Prop.forAll(dnaGen) { s => decodeBlocks(encodeBlocks(s)) == s })
  }

  test("blocks RC involution + canonical symmetry") {
    // the canonical form of a whole sequence is its word key's: one
    // canonical window of length |s|, equal for s and rc(s)
    def canon(s: String) = KmerIter.canonicalWords(s, s.length).toList.map(_.toSeq)
    check(Prop.forAll(dnaGen) { s =>
      val b = encodeBlocks(s)
      decodeBlocks(rcBlocks(b)) == rcStr(s) && decodeBlocks(rcBlocks(rcBlocks(b))) == s &&
        canon(s) == canon(rcStr(s)) &&
        canon(s).map(c => decodeBlocks(wordsToBlocks(c.toArray, 0, s.length))) ==
          List(Seq(s, rcStr(s)).min)
    })
  }

  test("concat/slice/prefix/suffix agree with strings") {
    check(Prop.forAll(dnaGen, dnaGen) { (a, b) =>
      decodeBlocks(concatBlocks(encodeBlocks(a), encodeBlocks(b))) == a + b
    })
    check(Prop.forAll(dnaGen) { s =>
      val b = encodeBlocks(s)
      val k = math.min(s.length, 31)
      val mid = s.length / 2
      decodeBlocks(sliceBlocks(b, 0, k)) == s.take(k) &&
        decodeBlocks(sliceBlocks(b, s.length - k, s.length)) == s.takeRight(k) &&
        (mid == 0 || decodeBlocks(sliceBlocks(b, 0, mid)) == s.take(mid))
    })
  }

  test("word key order is lexicographic order at equal k") {
    import graft.operators.Dna.wordKey
    check(Prop.forAll(dnaGen, dnaGen) { (x, y) =>
      val k = math.min(x.length, y.length)
      val (a, b) = (x.take(k), y.take(k))
      decodeBlocks(wordsToBlocks(wordKey(a), 0, k)) == a &&
        compareWords(wordKey(a), 0, wordKey(b), 0, wordsFor(k)).sign == a.compareTo(b).sign
    })
  }

  test("invalid bases rejected") {
    assert(encodeLong("ACGN") == -1L)
    assert(encodeBlocks("ACGN") == null)
  }

  test("attribute word pack/unpack round-trips incl. negatives") {
    val field = Gen.chooseNum(-(1 << 30), (1 << 30) - 1)
    check(Prop.forAll(Gen.chooseNum(0, 3), field, field) { (m, l, r) =>
      val a = packAttr(m, l, r)
      attrMarker(a) == m && attrLeft(a) == l && attrRight(a) == r
    })
    intercept[IllegalArgumentException](packAttr(4, 0, 0))
    intercept[IllegalArgumentException](packAttr(1, 1 << 30, 0))
  }

  test("contract violations fail fast") {
    intercept[IllegalArgumentException](encodeLong("A" * 32))
    intercept[IllegalArgumentException](sliceBlocks(encodeBlocks("ACG"), 1, 9))
    val bld = new Builder(4)
    bld.append(0).append(1)
    bld.result()
    intercept[IllegalStateException](bld.result())
    intercept[IllegalStateException](bld.append(2))
  }
}
