package distbench

import java.util.SplittableRandom

/** Seeded input generators. Every draw comes from a stream keyed by
  * (seed, stream, index), so an input depends only on the seed and its own
  * position, never on how many ops ran before it.
  */
object Gen {
  val Dim = 384

  private def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def rng(seed: Long, stream: Long, i: Long): SplittableRandom =
    new SplittableRandom(mix(mix(seed * 0x9e3779b97f4a7c15L + stream) + i))

  private def noise(r: SplittableRandom): Array[Double] = {
    val s = 1.0 / math.sqrt(Dim.toDouble)
    Array.fill(Dim)(r.nextGaussian() * s)
  }

  private def unit(v: Array[Double]): Array[Float] = {
    var n = 0.0
    var i = 0
    while (i < v.length) { n += v(i) * v(i); i += 1 }
    val inv = 1.0 / math.sqrt(n)
    v.map(x => (x * inv).toFloat)
  }

  /** Cosine distance in double precision (the generator's planting check). */
  def cosDist(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      i += 1
    }
    1.0 - dot / math.sqrt(na * nb)
  }

  /** Topic mixture: `n` unit topic centres. A member vector is
    * unit(√share·centre + √(1-share)·noise), so two members of one topic sit
    * near cosine distance 1-share and members of different topics near 1.
    */
  final class Topics(seed: Long, n: Int, share: Double = 0.5) {
    private val centres: Array[Array[Double]] =
      Array.tabulate(n)(t => unit(noise(rng(seed, 11, t))).map(_.toDouble))
    def size: Int = n
    def member(topic: Int, r: SplittableRandom): Array[Float] = {
      val c = centres(topic); val g = noise(r)
      val a = math.sqrt(share); val b = math.sqrt(1 - share)
      unit(Array.tabulate(Dim)(i => a * c(i) + b * g(i)))
    }
  }

  /** unit(v + eps·noise): eps 0.18 lands near cosine distance 0.016 from v,
    * eps 0.88 near 0.25.
    */
  def perturb(v: Array[Float], eps: Double, r: SplittableRandom): Array[Float] = {
    val g = noise(r)
    unit(Array.tabulate(Dim)(i => v(i) + eps * g(i)))
  }

  /** Zipf(s) sampler over ranks 0..n-1. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(k => 1.0 / math.pow(k + 1.0, s))
      val tot = w.sum
      var acc = 0.0
      w.map { x => acc += x; acc / tot }
    }
    def sample(r: SplittableRandom): Int = {
      val u = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  private val syllables = Array("ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo",
    "ba", "de", "fu", "gi", "ho", "ja", "ke", "pu")

  /** Word `k` of the vocabulary: k+1 spelled in base 16 with syllables, so
    * every rank has its own spelling.
    */
  def word(k: Int): String = {
    val sb = new StringBuilder
    var x = k + 1
    while (x > 0) { sb.append(syllables(x & 15)); x >>>= 4 }
    sb.toString
  }

  final class Texts(vocab: Int = 4000, s: Double = 1.1) {
    private val zipf = new Zipf(vocab, s)
    private val words = Array.tabulate(vocab)(word)
    def words(r: SplittableRandom, n: Int): Array[String] = Array.fill(n)(words(zipf.sample(r)))
    def sentence(r: SplittableRandom): String = {
      val ws = words(r, 8 + r.nextInt(9))
      ws(0) = ws(0).capitalize
      ws.mkString(" ") + "."
    }
    /** `sentences` sentences of 8-16 Zipf words each. */
    def text(r: SplittableRandom, sentences: Int): String =
      Array.fill(sentences)(sentence(r)).mkString(" ")
  }
}
