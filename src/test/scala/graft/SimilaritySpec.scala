package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Similarity

/** Similarity kernels vs golden values (Jaro-Winkler goldens are DuckDB
  * jaro_winkler_similarity outputs — the oracle convention: standard Jaro,
  * 0.7 boost threshold, prefix cap 4) and the reference's exact numeric
  * formulas (Deeper.py:327-343). */
class SimilaritySpec extends AnyFunSuite {

  private def approx(a: Double, b: Double, eps: Double = 1e-12) =
    assert(math.abs(a - b) <= eps, s"$a vs $b")

  test("jaro-winkler matches oracle goldens") {
    approx(Similarity.jaroWinkler("martha", "marhta"), 0.9611111111111111)
    approx(Similarity.jaroWinkler("dixon", "dicksonx"), 0.8133333333333332, 1e-10)
    approx(Similarity.jaroWinkler("jellyfish", "smellyfish"), 0.8962962962962964, 1e-10)
    approx(Similarity.jaroWinkler("abc", "abc"), 1.0)
    approx(Similarity.jaroWinkler("", "abc"), 0.0)
    approx(Similarity.jaroWinkler("abcdef", "uvwxyz"), 0.0)
    approx(Similarity.jaroWinkler("dwayne", "duane"), 0.8400000000000001, 1e-10)
    approx(Similarity.jaroWinkler("aaapppp", "ap"), 0.7857142857142857, 1e-10)
    // jaro ≤ 0.7: winkler boost must NOT apply despite long common prefix
    approx(Similarity.jaroWinkler("withprefix_butlow_sim",
      "withprefix_completely_different_tail_zzz"), 0.6860177404295053, 1e-10)
    approx(Similarity.jaroWinkler("ab", "abcdefgh"), 0.8, 1e-10)
    approx(Similarity.jaroWinkler("kitten", "sitting"), 0.746031746031746, 1e-10)
  }

  test("levenshtein matches oracle goldens") {
    assert(Similarity.levenshtein("kitten", "sitting", 1000) == 3)
    assert(Similarity.levenshtein("martha", "marhta", 1000) == 2)
    assert(Similarity.levenshtein("", "abc", 1000) == 3)
    assert(Similarity.levenshtein("aaapppp", "ap", 1000) == 5)
    assert(Similarity.levenshtein("abcdef", "uvwxyz", 1000) == 6)
    // cap truncates both sides before distance
    assert(Similarity.levenshtein("aaaaaaaaaaXX", "aaaaaaaaaaYY", 10) == 0)
  }

  test("numeric sims follow the reference formulas exactly") {
    approx(Similarity.scaledInverseLp(3.0, 3.0), math.exp(-0.0))
    approx(Similarity.scaledInverseLp(2.0, 4.0), math.exp(-2.0 * 2.0 / (6.0 + 1e-5)))
    approx(Similarity.unscaledInverseLp(2.0, 4.5), math.exp(-2.5))
    approx(Similarity.minMaxRatio(2.0, 4.0), 2.0 / (4.0 + 1e-5))
    approx(Similarity.minMaxRatio(4.0, 2.0), 2.0 / (4.0 + 1e-5))
  }

  test("cosine: identical, orthogonal, opposite, zero") {
    approx(Similarity.cosine(Array(1f, 2f, 3f), Array(1f, 2f, 3f)), 1.0, 1e-9)
    approx(Similarity.cosine(Array(1f, 0f), Array(0f, 1f)), 0.0)
    approx(Similarity.cosine(Array(1f, 0f), Array(-1f, 0f)), -1.0, 1e-9)
    approx(Similarity.cosine(Array(0f, 0f), Array(1f, 1f)), 0.0)
  }

  private def utf8(s: String) = org.apache.spark.unsafe.types.UTF8String.fromString(s)

  test("minhash bands: deterministic; identical text shares all bands") {
    val a = Similarity.minHashBands(utf8("the quick brown fox jumps"), 16, 6, 42L)
    val b = Similarity.minHashBands(utf8("the quick brown fox jumps"), 16, 6, 42L)
    assert(a.toSeq == b.toSeq)
    assert(a.length == 16)
    val c = Similarity.minHashBands(utf8("a completely different doc"), 16, 6, 42L)
    assert(a.toSeq != c.toSeq)
  }

  test("minhash bands: band keys differ across band index (no cross-band merge)") {
    val a = Similarity.minHashBands(utf8("xyz"), 8, 2, 1L)
    assert(a.distinct.length == a.length)
  }

  /** Band keys from a plain MinHash loop over `shingles`, with no seen
    * table: every shingle, repeated or not, remixes into the minima. */
  private def refBands(shingles: Seq[Array[Byte]], bands: Int, rows: Int, seed: Long): Seq[Long] = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    import org.apache.spark.unsafe.Platform
    val golden = 0x9E3779B97F4A7C15L
    val mins = Array.fill(bands * rows)(Long.MaxValue)
    for (sh <- shingles) {
      val h0 = XXH64.hashUnsafeBytes(sh, Platform.BYTE_ARRAY_OFFSET, sh.length, seed)
      for (j <- mins.indices) mins(j) = math.min(mins(j), XXH64.hashLong(h0, seed + golden * (j + 1)))
    }
    (0 until bands).map(b =>
      (0 until rows).foldLeft(seed + b)((acc, r) => XXH64.hashLong(mins(b * rows + r), acc)))
  }

  test("minhash bands: a full seen table keeps the signature exact") {
    // more distinct shingles than the kernels' seen table holds (3,072),
    // each repeated many times, so the table fills and later hits, misses
    // and never-inserted shingles all occur in one row
    val r = new scala.util.Random(17)
    val vocab = randWords(r, 6000)
    val text = (0 until 30000).map(_ => vocab(r.nextInt(vocab.size))).mkString(" ")
    val bytes = text.getBytes("UTF-8")
    val grams = (0 to bytes.length - 3).map(i => bytes.slice(i, i + 3))
    val tokens = text.split(" ").toSeq.map(_.getBytes("UTF-8"))
    assert(grams.map(_.toSeq).distinct.size > 3072 && tokens.map(_.toSeq).distinct.size > 3072)
    assert(grams.size > 4 * 3072 && tokens.size > 4 * 3072)
    assert(Similarity.minHashBands(utf8(text), 16, 6, 42L).toSeq == refBands(grams, 16, 6, 42L))
    assert(Similarity.minHashBandsTokens(utf8(text), 16, 6, 42L).toSeq ==
      refBands(tokens, 16, 6, 42L))
  }

  test("simhash: identical texts equal; near texts close in hamming") {
    val a = Similarity.simHash64(utf8("alpha beta gamma delta epsilon zeta eta theta"), 0L)
    val b = Similarity.simHash64(utf8("alpha beta gamma delta epsilon zeta eta theta"), 0L)
    val near = Similarity.simHash64(utf8("alpha beta gamma delta epsilon zeta eta iota"), 0L)
    val far = Similarity.simHash64(utf8("one two three four five six seven eight"), 0L)
    assert(a == b)
    assert(Similarity.hamming64(a, near) < Similarity.hamming64(a, far))
  }

  // deterministic seeded property loops (scalatestplus glue unavailable offline)
  private def randWords(r: scala.util.Random, n: Int): IndexedSeq[String] =
    (0 until n).map(_ => (0 until 3 + r.nextInt(8)).map(_ => ('a' + r.nextInt(26)).toChar).mkString)

  test("property: similarity symmetry and range") {
    val r = new scala.util.Random(7)
    for (_ <- 1 to 200) {
      val a = randWords(r, 6).mkString(" ")
      val b = randWords(r, 6).mkString(" ")
      val jw1 = Similarity.jaroWinkler(a, b)
      assert(math.abs(jw1 - Similarity.jaroWinkler(b, a)) < 1e-12)
      assert(jw1 >= 0.0 && jw1 <= 1.0)
      val lv = Similarity.levenshteinSim(a, b, 200)
      assert(math.abs(lv - Similarity.levenshteinSim(b, a, 200)) < 1e-12)
      assert(lv >= 0.0 && lv <= 1.0)
    }
  }

  test("property: identical strings are maximal") {
    val r = new scala.util.Random(11)
    for (_ <- 1 to 100) {
      val a = randWords(r, 5).mkString(" ")
      assert(Similarity.jaroWinkler(a, a) == 1.0)
      assert(Similarity.levenshteinSim(a, a, 200) == 1.0)
    }
  }

  test("property: minhash band agreement grows with text overlap") {
    val r = new scala.util.Random(13)
    for (_ <- 1 to 50) {
      val words = randWords(r, 40)
      val base = words.mkString(" ")
      val pert = (words.take(38) ++ words.drop(39)).mkString(" ") // drop one word
      val other = randWords(r, 40).mkString(" ")
      val b0 = Similarity.minHashBands(utf8(base), 16, 6, 42L)
      val bp = Similarity.minHashBands(utf8(pert), 16, 6, 42L)
      val bo = Similarity.minHashBands(utf8(other), 16, 6, 42L)
      val sharedPert = b0.zip(bp).count { case (x, y) => x == y }
      val sharedOther = b0.zip(bo).count { case (x, y) => x == y }
      assert(sharedPert >= sharedOther)
    }
  }
}
