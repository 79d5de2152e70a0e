package graft.functions

import org.scalatest.funsuite.AnyFunSuite

/** fuzz.ratio parity: values derived from the published formula
  * `100 * (1 - indel/(|a|+|b|))` with `indel = |a|+|b| - 2*LCS`, matching
  * rapidfuzz's documented `ratio` scorer (the reference's fuzzy
  * threshold, `lookup.py:167-169`).
  */
class FuzzyLibSpec extends AnyFunSuite {

  test("indel distance via LCS identity") {
    assert(FuzzyLib.indelDistance("CEFALEXIM", "CEFALEXIN") == 2) // sub = 2
    assert(FuzzyLib.indelDistance("AMOXICILIN", "AMOXICILLIN") == 1)
    assert(FuzzyLib.indelDistance("ABC", "ABC") == 0)
    assert(FuzzyLib.indelDistance("ABC", "") == 3)
    assert(FuzzyLib.indelDistance("SPARK", "PART") == 3) // LCS "PAR" = 3
  }

  test("ratio matches the rapidfuzz formula") {
    // CEFALEXIM vs CEFALEXIN: lsum 18, indel 2 -> 100*(1-2/18) = 88.89
    assert(math.abs(FuzzyLib.ratio("CEFALEXIM", "CEFALEXIN") - 88.8888888) < 1e-4)
    // AMOXICILIN vs AMOXICILLIN: lsum 21, indel 1 -> 95.238
    assert(math.abs(FuzzyLib.ratio("AMOXICILIN", "AMOXICILLIN") - 95.2380952) < 1e-4)
    assert(FuzzyLib.ratio("ABC", "ABC") == 100.0)
    assert(FuzzyLib.ratio("", "") == 100.0)
    assert(FuzzyLib.ratio("ABC", "XYZ") == 0.0)
    // the 85-threshold behavior the waterfall gates on
    assert(FuzzyLib.ratio("CEFALEXIM", "CEFALEXIN") >= 85.0)
    assert(FuzzyLib.ratio("SPARK", "PART") < 85.0)
  }

  test("astral characters count once, like rapidfuzz's code points") {
    // "A😀B" is 3 code points (4 UTF-16 units): lsum 5, indel 1 -> 80.0
    // (UTF-16 units would give lsum 6, indel 2 -> 66.7)
    assert(FuzzyLib.indelDistance("A😀B", "AB") == 1)
    assert(FuzzyLib.ratio("A😀B", "AB") == 80.0)
    // astral code points sharing a high surrogate share nothing
    // (UTF-16 units would match the surrogate: 50.0)
    assert(FuzzyLib.ratio("😀", "😁") == 0.0)
    assert(FuzzyLib.ratio("É😀", "É😀") == 100.0)
  }
}
