package graftbench

import scala.collection.mutable

/** Exact reference for one output group, computed once from the generated
  * inputs: sorted values, exact item counts and distinct count. `mean` and
  * `varPop` come from Spark's own `avg` / `var_pop` over the same rows. */
final class GroupRef(val sorted: Array[Double], val itemCounts: mutable.HashMap[String, Long]) {
  var mean: Double = Double.NaN
  var varPop: Double = Double.NaN
  def count: Long = sorted.length.toLong
  def distinct: Long = itemCounts.size.toLong
}

object GroupRef {
  /** Group parallel (group, value, item) rows into exact references. */
  def build[G](groups: Iterator[(G, Double, String)]): mutable.HashMap[G, GroupRef] = {
    val vals = mutable.HashMap.empty[G, mutable.ArrayBuilder.ofDouble]
    val items = mutable.HashMap.empty[G, mutable.HashMap[String, Long]]
    groups.foreach { case (g, v, it) =>
      vals.getOrElseUpdate(g, new mutable.ArrayBuilder.ofDouble) += v
      val m = items.getOrElseUpdate(g, mutable.HashMap.empty[String, Long])
      m.update(it, m.getOrElse(it, 0L) + 1L)
    }
    vals.map { case (g, b) =>
      val a = b.result(); java.util.Arrays.sort(a)
      g -> new GroupRef(a, items(g))
    }
  }
}

/** The output checks. Each returns None on success or a failure message. */
object Checks {
  /** Quantile probes checked against exact ranks (BASELINE B3). */
  val Qs: Array[Double] = Array(0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99)
  val QAtol = 0.012
  val TopK = 10

  private def lowerBound(a: Array[Double], x: Double): Int = {
    var lo = 0; var hi = a.length
    while (lo < hi) { val m = (lo + hi) >>> 1; if (a(m) < x) lo = m + 1 else hi = m }
    lo
  }
  private def upperBound(a: Array[Double], x: Double): Int = {
    var lo = 0; var hi = a.length
    while (lo < hi) { val m = (lo + hi) >>> 1; if (a(m) <= x) lo = m + 1 else hi = m }
    lo
  }

  /** stats count, min and max exact; mean and population variance within
    * 1e-9 relative of Spark's avg / var_pop. */
  def stats(ref: GroupRef, count: Long, min: Double, max: Double,
      mean: Double, varPop: Double): Option[String] =
    if (count != ref.count) Some(s"stats count $count != ${ref.count}")
    else if (min != ref.sorted.head || max != ref.sorted.last)
      Some(s"stats min/max ($min, $max) != (${ref.sorted.head}, ${ref.sorted.last})")
    else if (!Stats.relClose(mean, ref.mean, 1e-9)) Some(s"stats mean $mean != avg ${ref.mean}")
    else if (!Stats.relClose(varPop, ref.varPop, 1e-9))
      Some(s"stats var $varPop != var_pop ${ref.varPop}")
    else None

  /** Each estimate's exact rank interval must reach within QAtol of q. */
  def quantiles(ref: GroupRef, xs: Array[Double]): Option[String] = {
    val n = ref.sorted.length.toDouble
    Qs.indices.collectFirst {
      case i if {
        val lo = lowerBound(ref.sorted, xs(i)) / n
        val hi = upperBound(ref.sorted, xs(i)) / n
        Qs(i) < lo - QAtol || Qs(i) > hi + QAtol
      } => s"tdigest q=${Qs(i)} -> ${xs(i)} outside rank tolerance"
    }
  }

  /** Space-Saving counters bracket the exact count: count - error <= actual
    * <= count (the B8 guarantee, with `count` the counter's upper bound). */
  def topk(ref: GroupRef, counters: Seq[(String, Long, Long)]): Option[String] =
    if (counters.isEmpty) Some("space-saving sketch is empty")
    else counters.collectFirst {
      case (item, c, e) if {
        val actual = ref.itemCounts.getOrElse(item, 0L)
        actual > c || actual < c - e
      } => s"space-saving $item count=$c error=$e actual=${ref.itemCounts.getOrElse(item, 0L)}"
    }

  /** HLL estimate within z standard errors (1.04/sqrt(m) relative) of the
    * exact distinct count. One group gets z = 3; an output of `groups`
    * groups gets the z that keeps the chance of any false alarm at that of
    * a single 3-sigma test (0.27%), since every group is checked. */
  def distinct(ref: GroupRef, estimate: Double, p: Int, groups: Int): Option[String] = {
    val se = 1.04 / math.sqrt((1 << p).toDouble) * ref.distinct
    val z = zFor(groups)
    if (math.abs(estimate - ref.distinct) <= z * se) None
    else Some(f"hll estimate $estimate%.1f vs exact ${ref.distinct} (beyond $z%.2f standard errors)")
  }

  /** Two-sided normal quantile for a 0.27% family-wise false-alarm rate
    * over `groups` tests (Bonferroni); zFor(1) == 3 up to rounding. */
  def zFor(groups: Int): Double = {
    val tail = 0.0026997960632601866 / math.max(groups, 1)
    var lo = 0.0; var hi = 10.0
    for (_ <- 1 to 60) { val mid = (lo + hi) / 2; if (twoSidedTail(mid) > tail) lo = mid else hi = mid }
    (lo + hi) / 2
  }

  /** P(|Z| > z) for a standard normal Z: erfc(z / sqrt 2), by the
    * Numerical Recipes Chebyshev fit (relative error below 1.2e-7). */
  private def twoSidedTail(z: Double): Double = {
    val x = z / math.sqrt(2)
    val t = 1.0 / (1.0 + 0.5 * x)
    t * math.exp(-x * x - 1.26551223 + t * (1.00002368 + t * (0.37409196 + t * (0.09678418 +
      t * (-0.18628806 + t * (0.27886807 + t * (-1.13520398 + t * (1.48851587 +
      t * (-0.82215223 + t * 0.17087277)))))))))
  }
}
