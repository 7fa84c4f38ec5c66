package perfbench

/** Seeded, stateless value generation: every input value is a pure
  * function of (seed, row, salt), so Spark tasks generate the rows the
  * program stores and the oracle regenerates the same rows in-process.
  */
object Gen {
  /** SplitMix64 finalizer over the combined inputs. */
  def mix(seed: Long, i: Long, salt: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + i * 0xBF58476D1CE4E5B9L + salt * 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Uniform in [0, n). */
  def below(seed: Long, i: Long, salt: Long, n: Long): Long = java.lang.Math.floorMod(mix(seed, i, salt), n)

  /** A lowercase word of 3 to 9 letters. */
  def word(seed: Long, w: Long): String = {
    val len = 3 + below(seed, w, 101, 7).toInt
    val b = new StringBuilder(len)
    var j = 0
    while (j < len) { b += ('a' + below(seed, w, 200 + j, 26)).toChar; j += 1 }
    b.result()
  }

  /** A seeded permutation of 0 until n (Fisher-Yates). */
  def shuffle[T](seed: Long, salt: Long, xs: IndexedSeq[T]): IndexedSeq[T] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) {
      val j = below(seed, i, salt, i + 1).toInt
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[T]]
  }
}
