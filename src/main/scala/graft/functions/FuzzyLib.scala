package graft.functions

/** Fuzzy-similarity primitives matching the reference's rapidfuzz usage
  * (`lookup.py:164-220`): `fuzz.ratio` is the indel-normalized
  * similarity, `100 * (1 - indel(a,b) / (|a| + |b|))`, where the indel
  * distance allows insertions/deletions only (a substitution costs 2).
  * `indel(a,b) = |a| + |b| - 2 * LCS(a,b)`. Like rapidfuzz (and Spark's
  * `length`), both count code points, not UTF-16 units.
  */
object FuzzyLib {

  /** Insert/delete-only edit distance via the LCS identity. */
  def indelDistance(a: String, b: String): Int = {
    if (a == null || b == null) return Int.MaxValue
    val (ca, cb) = (a.codePoints.toArray, b.codePoints.toArray)
    val (la, lb) = (ca.length, cb.length)
    if (la == 0) return lb
    if (lb == 0) return la
    // LCS DP over two rows
    var prev = new Array[Int](lb + 1)
    var cur = new Array[Int](lb + 1)
    var i = 1
    while (i <= la) {
      var j = 1
      while (j <= lb) {
        cur(j) =
          if (ca(i - 1) == cb(j - 1)) prev(j - 1) + 1
          else math.max(prev(j), cur(j - 1))
        j += 1
      }
      val t = prev; prev = cur; cur = t
      i += 1
    }
    la + lb - 2 * prev(lb)
  }

  /** rapidfuzz `fuzz.ratio` (0..100, higher = more similar). */
  def ratio(a: String, b: String): Double = {
    if (a == null || b == null) return 0.0
    val lsum = a.codePointCount(0, a.length) + b.codePointCount(0, b.length)
    if (lsum == 0) return 100.0
    100.0 * (1.0 - indelDistance(a, b).toDouble / lsum)
  }
}
