package graftbench

import scala.collection.mutable.ArrayBuffer

/** Minimal JSON writer for the run record: Map, Seq, String, Boolean,
  * numbers and null. Non-finite doubles are written as null. */
object Json {
  def apply(v: Any): String = { val sb = new StringBuilder; write(sb, v); sb.toString }

  private def write(sb: StringBuilder, v: Any): Unit = v match {
    case null | None => sb.append("null")
    case Some(x) => write(sb, x)
    case s: String => str(sb, s)
    case b: Boolean => sb.append(b)
    case d: Double =>
      if (d.isNaN || d.isInfinite) sb.append("null") else sb.append(java.lang.Double.toString(d))
    case f: Float => write(sb, f.toDouble)
    case n: Int => sb.append(n)
    case n: Long => sb.append(n)
    case m: scala.collection.Map[_, _] =>
      sb.append('{')
      var first = true
      m.foreach { case (k, x) =>
        if (!first) sb.append(','); first = false
        str(sb, k.toString); sb.append(':'); write(sb, x)
      }
      sb.append('}')
    case xs: Iterable[_] =>
      sb.append('[')
      var first = true
      xs.foreach { x => if (!first) sb.append(','); first = false; write(sb, x) }
      sb.append(']')
    case xs: Array[_] => write(sb, xs.toSeq)
    case other => str(sb, other.toString)
  }

  private def str(sb: StringBuilder, s: String): Unit = {
    sb.append('"')
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"')
  }
}

/** Order statistics and small numeric helpers. */
object Stats {
  def median(xs: Iterable[Double]): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** The highest order statistic with at least ten samples above it, with
    * its percentile; the maximum (and percentile 100) below 11 samples. */
  def tail(xs: Iterable[Double]): (Double, Double) = {
    val s = xs.toArray.sorted
    val n = s.length
    if (n == 0) (Double.NaN, Double.NaN)
    else if (n < 11) (s(n - 1), 100.0)
    else (s(n - 11), 100.0 * (n - 10) / n)
  }

  def relClose(a: Double, b: Double, rel: Double): Boolean =
    a == b || math.abs(a - b) <= rel * math.max(math.abs(a), math.abs(b)) ||
      math.abs(a - b) <= 1e-12
}

/** Time-boxed micro-measurement: runs `reps` repetitions of a prepared
  * batch of calls until both a minimum repetition count and a time budget
  * are reached, and returns the median cost per call in nanoseconds. */
object Micro {
  @volatile var sink: Long = 0L

  def nsPerCall[T](budgetMs: Double, minReps: Int = 3, maxReps: Int = 200)(
      prepare: () => T)(calls: T => Long): Double = {
    val perCall = ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    while (perCall.length < maxReps &&
        (perCall.length < minReps || (System.nanoTime() - t0) / 1e6 < budgetMs)) {
      val state = prepare()
      val s = System.nanoTime()
      val n = calls(state)
      val e = System.nanoTime()
      if (n > 0) perCall += (e - s).toDouble / n
    }
    Stats.median(perCall)
  }
}
