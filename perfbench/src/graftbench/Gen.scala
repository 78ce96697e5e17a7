package graftbench

import java.util.SplittableRandom

/** Zipf(s) sampler over ranks 0 until n (inverse CDF by binary search). */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x; acc / total }
  }

  def sample(r: SplittableRandom): Int = {
    val u = r.nextDouble()
    var lo = 0
    var hi = n - 1
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (cdf(mid) < u) lo = mid + 1 else hi = mid
    }
    lo
  }
}

/** Seeded input generation. The same seed always gives the same inputs;
  * every workload derives its own stream from (seed, salt). */
object Gen {
  def rng(seed: Long, salt: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9e3779b97f4a7c15L ^ salt)

  /** `n` distinct item strings, shuffled so that Zipf rank → item differs
    * per seed. */
  def itemPool(n: Int, r: SplittableRandom): Array[String] = {
    val pool = Array.tabulate(n)(i => f"item-$i%06d")
    var i = n - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = pool(i); pool(i) = pool(j); pool(j) = t
      i -= 1
    }
    pool
  }

  /** Log-normal value whose location depends on the key, so groups differ. */
  def value(key: Int, r: SplittableRandom): Double =
    math.exp(1.0 + (key % 7) * 0.35 + 0.8 * gaussian(r))

  def gaussian(r: SplittableRandom): Double = {
    // Box–Muller; one draw per call keeps the stream position simple
    val u1 = 1.0 - r.nextDouble()
    val u2 = r.nextDouble()
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2 * math.Pi * u2)
  }
}

/** Row-oriented input of one batch workload: parallel arrays. */
final case class Events(keys: Array[Int], values: Array[Double], items: Array[String])
