package graft.core

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop}

class KmerIterSpec extends AnyFunSuite with ScalaCheckRunner {

  private val dnaWithN: Gen[String] =
    Gen.chooseNum(0, 300).flatMap(n =>
      Gen.stringOfN(n, Gen.frequency(20 -> Gen.oneOf('A', 'C', 'G', 'T'), 1 -> Gen.const('N'))))

  private def rcStr(s: String): String =
    s.reverse.map { case 'A' => 'T'; case 'C' => 'G'; case 'G' => 'C'; case 'T' => 'A' }

  test("canonicalLong matches string-level canonicalization (with N resets)") {
    check(Prop.forAll(Gen.chooseNum(1, 31), dnaWithN) { (k, s) =>
      val got = KmerIter.canonicalLong(s, k).map(KmerCodec.decodeLong(_, k)).toList
      val want = (0 to s.length - k)
        .map(i => s.substring(i, i + k))
        .filter(_.forall("ACGT".contains(_)))
        .map(w => Seq(w, rcStr(w)).min)
      got == want
    })
  }

  test("canonicalWords == a BigInt reference, k = 1 to 95") {
    // each window of ACGT bases (either case), the smaller strand as a
    // BigInt split into words (`Dna.wordKey`)
    def reference(s: String, k: Int): List[List[Long]] =
      (0 to s.length - k).map(i => s.substring(i, i + k).toUpperCase)
        .filter(_.forall("ACGT".contains(_)))
        .map(f => graft.operators.Dna.wordKey(Seq(f, rcStr(f)).min).toList).toList
    val mixedCase = dnaWithN.flatMap(s => Gen.listOfN(s.length, Gen.oneOf(true, false))
      .map(up => s.zip(up).map { case (c, u) => if (u) c else c.toLower }.mkString))
    for (k <- Seq(1, 2, 31, 32, 33, 63, 64, 65, 95)) {
      check(Prop.forAll(mixedCase) { s =>
        KmerIter.canonicalWords(s, k).map(_.toList).toList == reference(s, k)
      }, minTests = 60)
    }
  }
}
