package perfbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

/** Seeded, deterministic input generation helpers. Every generated value is
  * a pure function of `(seed, stream, index)`, so an input can be rebuilt
  * on its own, in any order, by any process.
  */
object Gen {

  /** SplitMix64 finalizer: a bijective 64-bit mix. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** A seed for one named stream of one input, derived from the run seed. */
  def derive(seed: Long, parts: Long*): Long =
    parts.foldLeft(mix(seed))((acc, p) => mix(acc ^ mix(p)))

  def rng(seed: Long, parts: Long*): java.util.SplittableRandom =
    new java.util.SplittableRandom(derive(seed, parts: _*))

  /** A seeded permutation of `0 until n` (Fisher-Yates). */
  def permutation(r: java.util.SplittableRandom, n: Int): IndexedSeq[Int] = {
    val a = Array.range(0, n)
    var i = n - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toIndexedSeq
  }

  /** `n` seeded pseudo-words built from `syllables`, 2 to 3 syllables each,
    * distinct.
    */
  def vocabulary(r: java.util.SplittableRandom, syllables: IndexedSeq[String], n: Int): IndexedSeq[String] = {
    val out = scala.collection.mutable.LinkedHashSet.empty[String]
    while (out.size < n) {
      val k = 2 + r.nextInt(2)
      out += (0 until k).map(_ => syllables(r.nextInt(syllables.size))).mkString
    }
    out.toIndexedSeq
  }

  /** A row's fields joined by \u0001: a stable text form to sort and hash. */
  def rowString(r: org.apache.spark.sql.Row): String =
    r.toSeq.map(String.valueOf).mkString("\u0001")

  /** Hex SHA-256 over a sequence of strings (each length-prefixed, so
    * boundaries count).
    */
  def sha256(parts: Iterator[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    parts.foreach { s =>
      val b = s.getBytes(StandardCharsets.UTF_8)
      md.update(java.nio.ByteBuffer.allocate(4).putInt(b.length).array())
      md.update(b)
    }
    md.digest().map("%02x".format(_)).mkString
  }
}
