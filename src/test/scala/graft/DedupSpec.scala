package graft

import org.scalatest.funsuite.AnyFunSuite

class DedupSpec extends AnyFunSuite {

  test("mulModP equals BigInteger modular arithmetic across the full operand range") {
    val p = java.math.BigInteger.valueOf((1L << 61) - 1)
    val rnd = new java.util.Random(99)
    (1 to 20000).foreach { _ =>
      val a = (math.abs(rnd.nextLong()) % ((1L << 61) - 1)) + 1 // [1, p]
      val x = rnd.nextInt().toLong & 0xffffffffL // [0, 2^32)
      val want = java.math.BigInteger.valueOf(a)
        .multiply(java.math.BigInteger.valueOf(x)).mod(p).longValueExact()
      assert(Dedup.mulModP(a, x) == want, s"a=$a x=$x")
    }
  }
}
