package perfbench

import java.security.MessageDigest
import java.util.SplittableRandom

/**
 * Seeded input generators. Every generator draws from its own stream,
 * derived from the run's seed and a fixed stream number, so the same
 * seed gives identical inputs however the generators are interleaved.
 */
object Gen {

  def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream * 0xBF58476D1CE4E5B9L)

  def gaussian(r: SplittableRandom): Double = {
    // Box-Muller over the generator's own doubles: java.util.Random's
    // nextGaussian would tie the sequence to a JDK implementation detail
    val u = 1.0 - r.nextDouble()
    val v = r.nextDouble()
    math.sqrt(-2.0 * math.log(u)) * math.cos(2.0 * math.Pi * v)
  }

  /** `n` cluster centres, each coordinate N(0, spread^2). */
  def centers(r: SplittableRandom, n: Int, dim: Int, spread: Double): Array[Array[Float]] =
    Array.fill(n)(Array.fill(dim)((gaussian(r) * spread).toFloat))

  /** `v` plus N(0, sigma^2) noise on every coordinate. */
  def jitter(r: SplittableRandom, v: Array[Float], sigma: Double): Array[Float] =
    v.map(x => (x + gaussian(r) * sigma).toFloat)

  /** `n` points, each around a uniformly chosen centre. */
  def clustered(r: SplittableRandom, cs: Array[Array[Float]], n: Int, sigma: Double): Array[Array[Float]] =
    Array.fill(n)(jitter(r, cs(r.nextInt(cs.length)), sigma))

  /** SHA-256 over a sequence of parts, for the determinism check. */
  def fingerprint(parts: Iterator[Any]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    val buf = java.nio.ByteBuffer.allocate(8)
    def long(x: Long): Unit = { buf.clear(); buf.putLong(x); md.update(buf.array()) }
    def feed(p: Any): Unit = p match {
      case a: Array[Float] => long(a.length.toLong); a.foreach(f => long(java.lang.Float.floatToIntBits(f).toLong))
      case a: Array[Long] => long(a.length.toLong); a.foreach(long)
      case a: Array[Int] => long(a.length.toLong); a.foreach(x => long(x.toLong))
      case a: Array[_] => long(a.length.toLong); a.foreach(feed)
      case s: String => md.update(s.getBytes("UTF-8")); long(s.length.toLong)
      case x: Long => long(x)
      case x: Int => long(x.toLong)
      case other => throw new IllegalArgumentException(s"cannot fingerprint ${other.getClass}")
    }
    parts.foreach(feed)
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}
