package graft.query

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed

/** The shared suggester rule ([[QueryCore.suggest]]) without an index: the
  * three-row OSA against the full-matrix DP, code-point order, and the
  * code-point length boundaries.
  */
class SuggestRuleSpec extends AnyFunSuite {

  /** Full-matrix OSA over code points — the reference the rolling-row DP
    * must equal. */
  private def osaFullMatrix(a: Array[Int], b: Array[Int]): Int = {
    val m = a.length; val n = b.length
    if (m == 0) return n
    if (n == 0) return m
    val d = Array.ofDim[Int](m + 1, n + 1)
    for (i <- 0 to m) d(i)(0) = i
    for (j <- 0 to n) d(0)(j) = j
    for (i <- 1 to m; j <- 1 to n) {
      val cost = if (a(i - 1) == b(j - 1)) 0 else 1
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1), d(i - 1)(j - 1) + cost)
      if (i > 1 && j > 1 && a(i - 1) == b(j - 2) && a(i - 2) == b(j - 1))
        d(i)(j) = math.min(d(i)(j), d(i - 2)(j - 2) + cost)
    }
    d(m)(n)
  }

  // small alphabets (so strings share letters and transpositions occur)
  // mixing ASCII, Devanagari and supplementary-plane code points
  private val alphabet = Seq('a'.toInt, 'b'.toInt, 'c'.toInt, 0x915, 0x93E,
    0x10330, 0x10331, 0x1F600)
  private val word: Gen[String] = for {
    n <- Gen.choose(0, 9)
    cps <- Gen.listOfN(n, Gen.oneOf(alphabet))
  } yield new String(cps.toArray, 0, cps.length)

  private def check(p: Prop): Unit = {
    val r = Test.check(Test.Parameters.default.withMinSuccessfulTests(2000)
      .withInitialSeed(Seed(20261017L)), p)
    assert(r.passed, r.status.toString)
  }

  test("three-row OSA == full-matrix OSA on random strings, incl. non-BMP (property)") {
    check(Prop.forAll(word, word) { (a, b) =>
      QueryCore.damerauLevenshtein(a, b) ==
        osaFullMatrix(a.codePoints.toArray, b.codePoints.toArray)
    })
  }

  test("OSA counts code points: a supplementary letter is one edit") {
    val g = new String(Character.toChars(0x10330))
    assert(QueryCore.damerauLevenshtein(s"${g}bc", "xbc") == 1)
    assert(QueryCore.damerauLevenshtein("abcd", "acbd") == 1) // transposition
    assert(QueryCore.damerauLevenshtein("ca", "abc") == 3)    // OSA, not unrestricted DL
  }

  test("cpCompare is code-point (UTF-8 byte) order (property)") {
    check(Prop.forAll(word, word) { (a, b) =>
      Integer.signum(QueryCore.cpCompare(a, b)) == Integer.signum(
        java.util.Arrays.compareUnsigned(a.getBytes("UTF-8"), b.getBytes("UTF-8")))
    })
    // differs from String.compareTo: U+FFFD sorts below a supplementary char
    val astral = new String(Character.toChars(0x10330))
    assert(QueryCore.cpCompare("�", astral) < 0 && "�".compareTo(astral) > 0)
  }

  test("rule: min_word_length and length deltas count code points") {
    val g = new String(Character.toChars(0x10330))
    val dict = Seq(s"${g}bcde" -> 1L, s"${g}bxy" -> 9L, s"${g}b" -> 5L, s"${g}bce" -> 2L)
    def sugg(q: String) = QueryCore.rankSuggestions(q, dict.iterator, 5, 0.6)
    // 𐌰bcde 1 − 1/5 ranks above 𐌰bce 1 − 1/4; 𐌰bxy: 2 edits over 4 code
    // points = 0.5; 𐌰b: under 3 code points
    assert(sugg(s"${g}bcd") == Seq(s"${g}bcde", s"${g}bce"))
    assert(QueryCore.suggestWords(s"${g}b xyz", "en") == Seq("xyz"))
    // ties on score and df break on the term
    assert(QueryCore.rankSuggestions("abcd", Iterator("abcf" -> 1L, "abce" -> 1L), 5, 0.6) ==
      Seq("abce", "abcf"))
    // the word itself is never its own suggestion; take(size) per word
    assert(QueryCore.rankSuggestions("abcd", Iterator("abcd" -> 9L, "abce" -> 1L,
      "abcf" -> 2L), 1, 0.6) == Seq("abcf"))
  }
}
