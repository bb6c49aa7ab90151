package graft

/** What is left of the deleted MinHash deduplication layer: its
  * Mersenne-prime multiply, pinned by `DedupSpec`. Nothing calls it; the
  * next prune deletes it with its test (ROADMAP item 1(b)). */
object Dedup {
  private final val MersennePrime = (1L << 61) - 1

  /** (a·x) mod (2^61−1) without overflow: a < 2^61, x < 2^32, so the full
    * product needs 93 bits — take it as (hi, lo) 128-bit halves via
    * `Math.multiplyHigh` and Mersenne-fold: a·x = hi·2^3·2^61 + lo, and
    * y mod (2^61−1) folds as (y & p) + (y >>> 61). */
  private[graft] def mulModP(a: Long, x: Long): Long = {
    val hi = Math.multiplyHigh(a, x)
    val lo = a * x
    var r = (lo & MersennePrime) + ((lo >>> 61) | (hi << 3))
    if (r >= MersennePrime) r -= MersennePrime
    if (r >= MersennePrime) r -= MersennePrime
    r
  }
}
