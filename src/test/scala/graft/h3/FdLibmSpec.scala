package graft.h3

import org.scalatest.funsuite.AnyFunSuite

import java.lang.Double.{doubleToRawLongBits, longBitsToDouble}

/**
 * `FdLibm.asin`/`acos`/`atan`/`atan2` against `StrictMath`, bit for bit,
 * over seeded inputs that reach every branch of fdlibm's e_asin.c, e_acos.c,
 * s_atan.c and e_atan2.c. NaN results compare equal to NaN whatever their
 * payload.
 */
class FdLibmSpec extends AnyFunSuite {
  import FdLibmSpec._

  private def sameBits(a: Double, b: Double): Boolean =
    (a.isNaN && b.isNaN) || doubleToRawLongBits(a) == doubleToRawLongBits(b)

  private def hex(x: Double): String = f"${doubleToRawLongBits(x)}%016x"

  private def check(name: String, port: Double => Double, strict: Double => Double): Unit = {
    assert(inputs.length >= 1000000)
    val bad = inputs.iterator.filterNot(x => sameBits(port(x), strict(x))).take(5).toList
    assert(bad.isEmpty, bad.map(x => s"$name(${hex(x)}) = ${port(x)} vs ${strict(x)}").mkString("; "))
  }

  private def coverage(classify: Double => String, branches: Seq[String]): Unit = {
    val counts = inputs.groupBy(classify).map { case (b, v) => b -> v.length }
    for (b <- branches) assert(counts.getOrElse(b, 0) >= 1000, s"branch $b: ${counts.get(b)}")
  }

  test("the seeded inputs reach every branch of asin/acos and atan") {
    coverage(asinBranch, AsinBranches)
    coverage(atanBranch, AtanBranches)
  }

  test("asin equals StrictMath.asin bit for bit") {
    check("asin", FdLibm.asin, StrictMath.asin)
  }

  test("acos equals StrictMath.acos bit for bit") {
    check("acos", FdLibm.acos, StrictMath.acos)
  }

  test("atan equals StrictMath.atan bit for bit") {
    check("atan", FdLibm.atan, StrictMath.atan)
  }

  test("atan2 equals StrictMath.atan2 bit for bit, every branch reached") {
    val (ys, xs) = pairs
    assert(ys.length >= 1000000)
    val counts = ys.indices.groupBy(i => atan2Branch(ys(i), xs(i))).map { case (b, v) => b -> v.length }
    for (b <- Atan2Branches) assert(counts.getOrElse(b, 0) >= 4, s"branch $b: ${counts.get(b)}")
    val bad = ys.indices.iterator
      .filterNot(i => sameBits(FdLibm.atan2(ys(i), xs(i)), StrictMath.atan2(ys(i), xs(i)))).take(5).toList
    assert(bad.isEmpty, bad.map(i =>
      s"atan2(${hex(ys(i))}, ${hex(xs(i))}) = ${FdLibm.atan2(ys(i), xs(i))} vs ${StrictMath.atan2(ys(i), xs(i))}")
      .mkString("; "))
  }

  test("signed zeros, exact ends and NaN") {
    assert(doubleToRawLongBits(FdLibm.asin(-0.0)) == doubleToRawLongBits(-0.0))
    assert(doubleToRawLongBits(FdLibm.atan2(-0.0, 1.0)) == doubleToRawLongBits(-0.0))
    assert(FdLibm.acos(1.0) == 0.0 && FdLibm.asin(2.0).isNaN && FdLibm.acos(Double.NaN).isNaN)
  }
}

object FdLibmSpec {
  private def hiAbs(x: Double): Int = (doubleToRawLongBits(x) >>> 32).toInt & 0x7fffffff

  /** asin's and acos's branch of an input, by the high word of |x|. */
  def asinBranch(x: Double): String = {
    val ix = hiAbs(x)
    if (ix >= 0x7ff00000) "nan-or-inf"
    else if (ix >= 0x3ff00000) "abs>=1"
    else if (ix >= 0x3fef3333) "[0.975,1)"
    else if (ix >= 0x3fe00000) "[0.5,0.975)"
    else if (ix >= 0x3e400000) "[2^-27,0.5)"
    else if (ix > 0x3c600000) "[2^-57,2^-27)"
    else if (ix >= 0x00100000) "normal<2^-57"
    else "subnormal-or-zero"
  }

  val AsinBranches: Seq[String] = Seq("nan-or-inf", "abs>=1", "[0.975,1)", "[0.5,0.975)",
    "[2^-27,0.5)", "[2^-57,2^-27)", "normal<2^-57", "subnormal-or-zero")

  /** atan's branch of an input. */
  def atanBranch(x: Double): String = {
    val ix = hiAbs(x)
    if (ix >= 0x7ff00000) "nan-or-inf"
    else if (ix >= 0x44100000) ">=2^66"
    else if (ix >= 0x40038000) "[2.4375,2^66)"
    else if (ix >= 0x3ff30000) "[1.1875,2.4375)"
    else if (ix >= 0x3fe60000) "[0.6875,1.1875)"
    else if (ix >= 0x3fdc0000) "[0.4375,0.6875)"
    else if (ix >= 0x3e200000) "[2^-29,0.4375)"
    else "<2^-29"
  }

  val AtanBranches: Seq[String] = Seq("nan-or-inf", ">=2^66", "[2.4375,2^66)", "[1.1875,2.4375)",
    "[0.6875,1.1875)", "[0.4375,0.6875)", "[2^-29,0.4375)", "<2^-29")

  /** atan2's branch of an input pair, in e_atan2.c's order of tests. */
  def atan2Branch(y: Double, x: Double): String = {
    val k = (hiAbs(y) - hiAbs(x)) >> 20
    if (x.isNaN || y.isNaN) "nan"
    else if (x == 1.0) "x=1"
    else if (y == 0.0) "y=0"
    else if (x == 0.0) "x=0"
    else if (x.isInfinite && y.isInfinite) "x=inf,y=inf"
    else if (x.isInfinite) "x=inf"
    else if (y.isInfinite) "y=inf"
    else if (k > 60) "|y/x|>2^60"
    else if (x < 0 && k < -60) "x<0,|y/x|<2^-60"
    else s"quadrant(${if (x < 0) "-" else "+"}${if (y < 0) "-" else "+"})"
  }

  val Atan2Branches: Seq[String] = Seq("nan", "x=1", "y=0", "x=0", "x=inf,y=inf", "x=inf", "y=inf",
    "|y/x|>2^60", "x<0,|y/x|<2^-60", "quadrant(++)", "quadrant(+-)", "quadrant(-+)", "quadrant(--)")

  val Specials: Seq[Double] = Seq(0.0, -0.0, 1.0, -1.0, 0.5, -0.5, 2.0, -2.0, Double.NaN,
    Double.PositiveInfinity, Double.NegativeInfinity, Double.MinPositiveValue, -Double.MinPositiveValue,
    Double.MaxValue, -Double.MaxValue, 1e-300, 1e300)

  private def signed(rnd: java.util.Random, x: Double): Double = if (rnd.nextBoolean()) x else -x

  /** a double with the given biased exponent and a random mantissa. */
  private def withExponent(rnd: java.util.Random, biased: Int): Double =
    longBitsToDouble((biased.toLong << 52) | (rnd.nextLong() & 0xfffffffffffffL))

  /** 1.6M seeded inputs: raw bit patterns, uniform draws on [-1, 1], on
    * each upper interval of asin and on atan's reductions, every finite
    * exponent (subnormals included), and 2000 ulps either side of each
    * branch threshold. */
  lazy val inputs: Array[Double] = {
    val rnd = new java.util.Random(7L)
    val out = Array.newBuilder[Double]
    for (_ <- 0 until 200000) out += longBitsToDouble(rnd.nextLong()) // NaNs, infinities, |x| > 1
    for (_ <- 0 until 200000) out += 2.0 * rnd.nextDouble() - 1.0
    for (_ <- 0 until 200000) out += signed(rnd, 0.5 + 0.475 * rnd.nextDouble())
    for (_ <- 0 until 200000) out += signed(rnd, 0.975 + 0.025 * rnd.nextDouble())
    for (_ <- 0 until 300000) out += signed(rnd, withExponent(rnd, rnd.nextInt(0x3ff))) // below 1
    for (_ <- 0 until 200000) out += signed(rnd, withExponent(rnd, 0x3ff + rnd.nextInt(0x7ff - 0x3ff))) // >= 1
    for (_ <- 0 until 100000) out += signed(rnd, 3.0 * rnd.nextDouble())
    for (_ <- 0 until 50000) out += signed(rnd, longBitsToDouble(rnd.nextLong() & 0xfffffffffffffL)) // subnormal
    val thresholdHiWords = Seq(
      0x3fef3333, 0x3fe00000, 0x3e400000, 0x3c600000, // asin/acos
      0x44100000, 0x40038000, 0x3ff30000, 0x3fe60000, 0x3fdc0000, 0x3e200000, // atan
      0x3ff00000, 0x7ff00000, 0x00100000)
    val thresholds = 0.0 +: longBitsToDouble(0x3c600000ffffffffL) +: // top of acos's 2^-57 high word
      thresholdHiWords.map(hi => longBitsToDouble(hi.toLong << 32))
    for (t <- thresholds) {
      var up = t; var down = t
      for (_ <- 0 until 2000) {
        out += up; out += -up; out += down; out += -down
        up = Math.nextUp(up); down = Math.nextDown(down)
      }
    }
    out ++= Specials
    out += longBitsToDouble(0x7ff8000000000001L); out += longBitsToDouble(0xfff0000000000001L)
    out.result()
  }

  /** 1.16M seeded (y, x) pairs: draws from [[inputs]] for each side, points
    * in the unit square, exponent gaps either side of +-60, x = 1, zero
    * and infinite sides, and every pair of [[Specials]]. */
  lazy val pairs: (Array[Double], Array[Double]) = {
    val rnd = new java.util.Random(11L)
    val ys = Array.newBuilder[Double]; val xs = Array.newBuilder[Double]
    def add(y: Double, x: Double): Unit = { ys += y; xs += x }
    def any(): Double = inputs(rnd.nextInt(inputs.length))
    for (_ <- 0 until 400000) add(any(), any())
    for (_ <- 0 until 400000) add(2.0 * rnd.nextDouble() - 1.0, 2.0 * rnd.nextDouble() - 1.0)
    for (_ <- 0 until 200000) {
      val e = 0x200 + rnd.nextInt(0x300)
      val gap = 55 + rnd.nextInt(16)
      val big = signed(rnd, withExponent(rnd, e)); val small = signed(rnd, withExponent(rnd, e - gap))
      if (rnd.nextBoolean()) add(big, small) else add(small, big)
    }
    for (_ <- 0 until 50000) add(any(), 1.0)
    for (_ <- 0 until 50000) add(signed(rnd, 0.0), any())
    for (_ <- 0 until 20000) add(any(), signed(rnd, 0.0))
    for (_ <- 0 until 20000) add(signed(rnd, Double.PositiveInfinity), any())
    for (_ <- 0 until 20000) add(any(), signed(rnd, Double.PositiveInfinity))
    for (y <- Specials; x <- Specials) add(y, x)
    (ys.result(), xs.result())
  }
}
