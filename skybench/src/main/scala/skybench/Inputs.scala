package skybench

import java.io.{BufferedWriter, FileWriter}

/** QoS tuples generated by the benchmark itself, so that no change to the
  * program can change the workload. The distributions follow the reference
  * producer: integer values in [0, 10000]; uniform, or anti-correlated, where
  * a random direction is scaled onto a plane whose target sum is drawn within
  * an epsilon slack of the mean (epsilon 0.0005 in 2-D, 0.05 in 3-D, 0.9 in
  * 4-D). Ids run 0, 1, 2, ... in generation order, as the producer numbers
  * records, and double as the streaming barrier counter.
  *
  * The same (distribution, dims, seed) always yields the same tuples, and a
  * prefix of a longer input equals the shorter input.
  */
final class Inputs(val dims: Int, val n: Int) {
  /** Row-major values: tuple i is `values(i * dims until (i + 1) * dims)`. */
  val values: Array[Double] = new Array[Double](n * dims)

  def value(i: Int, d: Int): Double = values(i * dims + d)

  /** CSV line "id,v1,...,vd" of tuple i, the format the program parses. */
  def line(i: Int): String = {
    val sb = new java.lang.StringBuilder(8 + 6 * dims)
    sb.append(i)
    var d = 0
    while (d < dims) { sb.append(',').append(values(i * dims + d).toLong); d += 1 }
    sb.toString
  }

  def writeCsv(path: java.nio.file.Path): Unit = {
    val w = new BufferedWriter(new FileWriter(path.toFile), 1 << 20)
    try {
      var i = 0
      while (i < n) { w.write(line(i)); w.write('\n'); i += 1 }
    } finally w.close()
  }
}

object Inputs {
  val DMin = 0
  val DMax = 10000

  def epsilon(dims: Int): Double = dims match {
    case 2 => 0.0005
    case 3 => 0.05
    case 4 => 0.9
    case d => d * 0.05 * 10
  }

  def generate(distribution: String, dims: Int, n: Int, seed: Long): Inputs = {
    val in = new Inputs(dims, n)
    val rng = new java.util.SplittableRandom(seed)
    val v = in.values
    val raw = new Array[Double](dims)
    val eps = epsilon(dims)
    var i = 0
    while (i < n) {
      val base = i * dims
      distribution match {
        case "uniform" =>
          var d = 0
          while (d < dims) { v(base + d) = DMin + rng.nextInt(DMax - DMin + 1); d += 1 }
        case "anti-correlated" =>
          var total = 0.0
          var d = 0
          while (d < dims) { raw(d) = rng.nextDouble(); total += raw(d); d += 1 }
          val mean = (DMin + DMax) / 2.0 * dims
          val slack = eps * (DMax - DMin) * dims
          val target = mean - slack + rng.nextDouble() * 2 * slack
          val scale = if (total != 0) target / total else 1.0
          d = 0
          while (d < dims) {
            v(base + d) = math.max(DMin, math.min(DMax, (raw(d) * scale).toInt)).toDouble
            d += 1
          }
        case other => throw new IllegalArgumentException(s"unknown distribution: $other")
      }
      i += 1
    }
    in
  }
}
