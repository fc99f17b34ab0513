package graftbench

import java.nio.charset.StandardCharsets.UTF_8

/** splitmix64 stream: fully specified, so the same (seed, stream) gives the
  * same numbers on every JVM. Gaussians use Box-Muller over StrictMath. */
final class Rng(private var state: Long) {
  private val Ulp = 1.0 / (1L << 53)
  def nextLong(): Long = {
    state += 0x9E3779B97F4A7C15L
    var z = state
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  /** Uniform in [0, 1). */
  def nextDouble(): Double = (nextLong() >>> 11) * Ulp
  /** Uniform in [0, n). */
  def nextInt(n: Int): Int = java.lang.Long.remainderUnsigned(nextLong(), n.toLong).toInt
  def between(lo: Int, hiInclusive: Int): Int = lo + nextInt(hiInclusive - lo + 1)
  def gaussian(): Double = {
    val u1 = ((nextLong() >>> 11) + 1) * Ulp // (0, 1]
    val u2 = nextDouble()
    StrictMath.sqrt(-2.0 * StrictMath.log(u1)) * StrictMath.cos(2.0 * math.Pi * u2)
  }
}

object Rng {
  /** An independent stream per (seed, name). */
  def apply(seed: Long, stream: String): Rng = {
    val h = new Rng(seed ^ 0x5DEECE66DL)
    var s = h.nextLong()
    stream.getBytes(UTF_8).foreach { b => s = new Rng(s ^ (b & 0xff)).nextLong() }
    new Rng(s)
  }
}

final case class Series(id: Long, values: Array[Double])

/** One event row of the long-form input of the model layer. */
final case class Event(userId: Long, eventId: Long, tsUs: Long, value: Double)

/** A shard of documents plus the near-duplicate pairs planted in it. */
final case class Shard(docs: Array[(Long, String)], planted: Array[(Long, Long)])

/** The benchmark's own seeded input generator. */
object Gen {
  def walk(rng: Rng, n: Int): Array[Double] = {
    val out = new Array[Double](n)
    var acc = 0.0
    var i = 0
    while (i < n) { acc += rng.gaussian(); out(i) = acc; i += 1 }
    out
  }

  /** Linear interpolation of `base` onto `n` evenly spaced points. */
  def stretch(base: Array[Double], n: Int): Array[Double] =
    Array.tabulate(n) { j =>
      val pos = if (n == 1) 0.0 else j.toDouble * (base.length - 1) / (n - 1)
      val i0 = math.floor(pos).toInt
      val i1 = math.min(base.length - 1, i0 + 1)
      val f = pos - i0
      base(i0) * (1 - f) + base(i1) * f
    }

  /** Random-walk blobs: `nBlobs` base walks; series i is a noisy copy of
    * base (i mod nBlobs), stretched to a length drawn from [minLen, maxLen]. */
  def blobs(rng: Rng, bases: Array[Array[Double]], n: Int, idBase: Long,
            minLen: Int, maxLen: Int, noise: Double): Array[Series] =
    Array.tabulate(n) { i =>
      val base = bases(i % bases.length)
      val len = if (minLen == maxLen) minLen else rng.between(minLen, maxLen)
      val shape = if (len == base.length) base else stretch(base, len)
      Series(idBase + i, shape.map(_ + noise * rng.gaussian()))
    }

  def bases(rng: Rng, nBlobs: Int, sz: Int): Array[Array[Double]] =
    Array.fill(nBlobs)(walk(rng, sz))

  /** Like [[blobs]], but each series copies a base drawn at random. */
  def probes(rng: Rng, bases: Array[Array[Double]], n: Int, idBase: Long,
             minLen: Int, maxLen: Int, noise: Double): Array[Series] =
    Array.tabulate(n) { i =>
      blobs(rng, Array(bases(rng.nextInt(bases.length))), 1, idBase + i, minLen, maxLen, noise)(0)
    }

  /** Long-form events for `n` users: user u follows blob (u mod k), with a
    * ragged number of events at strictly increasing, irregular times. Rows
    * come out shuffled, so ordering by time is the model layer's job. */
  def events(rng: Rng, n: Int, k: Int, minEvents: Int, maxEvents: Int,
             idBase: Long): Array[Event] = {
    val shapes = bases(rng, k, 64)
    val rows = scala.collection.mutable.ArrayBuffer.empty[Event]
    var eventId = idBase * 1000L
    var u = 0
    while (u < n) {
      val m = rng.between(minEvents, maxEvents)
      val shape = stretch(shapes(u % k), m)
      var ts = 1700000000000000L + rng.nextInt(1000000000)
      var j = 0
      while (j < m) {
        ts += 1000L + rng.nextInt(60000000)
        rows += Event(idBase + u, eventId, ts, shape(j) + 0.3 * rng.gaussian())
        eventId += 1
        j += 1
      }
      u += 1
    }
    val arr = rows.toArray
    var i = arr.length - 1
    while (i > 0) { val j = rng.nextInt(i + 1); val t = arr(i); arr(i) = arr(j); arr(j) = t; i -= 1 }
    arr
  }

  /** Vocabulary of distinct lowercase words, most frequent first. */
  def vocabulary(rng: Rng, size: Int): Array[String] = {
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < size) {
      val len = rng.between(3, 9)
      seen += Array.fill(len)(('a' + rng.nextInt(26)).toChar).mkString
    }
    seen.toArray
  }

  /** Cumulative Zipf(s) weights over ranks 1..n, normalised to end at 1. */
  def zipfCdf(n: Int, s: Double): Array[Double] = {
    val w = Array.tabulate(n)(r => 1.0 / StrictMath.pow(r + 1.0, s))
    val cdf = w.scanLeft(0.0)(_ + _).tail
    cdf.map(_ / cdf.last)
  }

  def zipfWord(rng: Rng, vocab: Array[String], cdf: Array[Double]): String = {
    val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
    vocab(math.min(vocab.length - 1, if (i >= 0) i else -i - 1))
  }

  /** `n` documents; a `dupFrac` share are near-duplicates of an earlier
    * document of the shard (1 or 2 word substitutions), which forms
    * groups when the source is itself a planted copy. */
  def shard(rng: Rng, vocab: Array[String], cdf: Array[Double], n: Int,
            dupFrac: Double, idBase: Long, minWords: Int, maxWords: Int): Shard = {
    val nDup = math.round(n * dupFrac).toInt
    val words = new Array[Array[String]](n)
    val planted = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val nBase = n - nDup
    var i = 0
    while (i < n) {
      if (i < nBase) {
        words(i) = Array.fill(rng.between(minWords, maxWords))(zipfWord(rng, vocab, cdf))
      } else {
        val src = rng.nextInt(i)
        val w = words(src).clone()
        val edits = rng.between(1, 2)
        var e = 0
        while (e < edits) { w(rng.nextInt(w.length)) = zipfWord(rng, vocab, cdf); e += 1 }
        words(i) = w
        planted += ((idBase + src, idBase + i))
      }
      i += 1
    }
    // shuffle the id order, so planted copies do not all sit at the end
    val perm = (0 until n).toArray
    var j = n - 1
    while (j > 0) { val r = rng.nextInt(j + 1); val t = perm(j); perm(j) = perm(r); perm(r) = t; j -= 1 }
    val newId = new Array[Long](n)
    perm.indices.foreach(p => newId(perm(p)) = idBase + p)
    Shard(
      perm.indices.map(p => (idBase + p, words(perm(p)).mkString(" "))).toArray,
      planted.map { case (a, b) =>
        val x = newId((a - idBase).toInt); val y = newId((b - idBase).toInt)
        (math.min(x, y), math.max(x, y))
      }.toArray)
  }

  /** SHA-256 over a canonical byte form of the inputs. */
  final class Digest {
    private val md = java.security.MessageDigest.getInstance("SHA-256")
    private val buf = java.nio.ByteBuffer.allocate(8)
    def long(x: Long): Digest = { buf.clear(); buf.putLong(x); md.update(buf.array()); this }
    def double(x: Double): Digest = long(java.lang.Double.doubleToLongBits(x))
    def string(s: String): Digest = { val b = s.getBytes(UTF_8); long(b.length); md.update(b); this }
    def series(xs: Iterable[Series]): Digest = {
      xs.foreach { s => long(s.id); long(s.values.length); s.values.foreach(double) }
      this
    }
    def hex: String = md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}
