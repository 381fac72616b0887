package skybench

/** The benchmark's independent answer key. It shares no code with the
  * program: dominance, the sort-filter skyline, the MR-Angle partition id and
  * the optimality figure are written out here from their definitions.
  *
  * Dominance is minimisation: a dominates b iff a <= b on every dimension and
  * a < b on at least one, so exact duplicates of a skyline point are all
  * skyline points.
  */
object Oracle {

  final case class Answer(skylineSize: Int, optimality: Double)

  private def dominates(v: Array[Double], a: Int, b: Int, dims: Int): Boolean = {
    var better = false
    var d = 0
    while (d < dims) {
      val x = v(a * dims + d); val y = v(b * dims + d)
      if (x > y) return false
      if (x < y) better = true
      d += 1
    }
    better
  }

  /** Sort-filter skyline of the tuples `idx` of `in`: in ascending order of
    * coordinate sum a tuple can only be dominated by one already accepted,
    * because a dominator has a strictly smaller sum. */
  def sortFilter(in: Inputs, idx: Array[Int]): Array[Int] = {
    val dims = in.dims
    val v = in.values
    val sums = idx.map { i =>
      var s = 0.0; var d = 0
      while (d < dims) { s += v(i * dims + d); d += 1 }
      s
    }
    val order = idx.indices.toArray.sortBy(sums(_))
    val sky = new Array[Int](idx.length)
    var size = 0
    order.foreach { o =>
      val c = idx(o)
      var dominated = false
      var k = 0
      while (!dominated && k < size) { dominated = dominates(v, sky(k), c, dims); k += 1 }
      if (!dominated) { sky(size) = c; size += 1 }
    }
    java.util.Arrays.copyOf(sky, size)
  }

  /** MR-Angle partition id of one tuple: for each of the d-1 hyperspherical
    * angles phi_i = atan2(sqrt(sum_{j>i} v_j^2), v_i), normalised by pi/2 and
    * averaged, scaled by n, truncated and clamped to [0, n-1]. */
  def mrAngle(in: Inputs, i: Int, n: Int): Int = {
    val dims = in.dims
    if (dims < 2) return 0
    var normalized = 0.0
    var a = 0
    while (a < dims - 1) {
      var rest = 0.0
      var j = a + 1
      while (j < dims) { val x = in.value(i, j); rest += x * x; j += 1 }
      normalized += math.atan2(math.sqrt(rest), in.value(i, a)) / (math.Pi / 2.0)
      a += 1
    }
    math.max(0, math.min(((normalized / (dims - 1)) * n).toInt, n - 1))
  }

  /** Skyline size and the reference optimality of the strategy query over
    * the first `count` tuples: local skylines per MR-Angle partition, the
    * global skyline of their union, then the mean over all `partitions` of
    * (local points that survive the merge / local skyline size), 0 for an
    * empty partition, rounded to four decimals as the program reports it. */
  def strategyAnswer(in: Inputs, count: Int, partitions: Int): Answer = {
    val pids = Array.tabulate(count)(mrAngle(in, _, partitions))
    val locals = (0 until partitions).map(p => sortFilter(in, (0 until count).filter(pids(_) == p).toArray))
    val global = sortFilter(in, locals.flatten.toArray)
    val survivors = global.groupBy(pids(_)).view.mapValues(_.length).toMap
    val ratios = locals.zipWithIndex.collect {
      case (l, p) if l.nonEmpty => survivors.getOrElse(p, 0).toDouble / l.length
    }
    Answer(global.length, math.round(ratios.sum / partitions * 10000.0) / 10000.0)
  }

  /** Skyline size of every prefix of a 2-D input that ends at a step
    * boundary: `sizes(k)` is the skyline size of tuples [0, ends(k)). The
    * staircase maps x to (y, multiplicity) of the current skyline; along
    * ascending x its y strictly falls. */
  def prefixSizes2D(in: Inputs, ends: Array[Int]): Array[Int] = {
    require(in.dims == 2, "the staircase oracle is 2-D")
    val stair = new java.util.TreeMap[java.lang.Double, Array[Double]]()
    var size = 0L
    var next = 0
    ends.map { end =>
      while (next < end) {
        val x = in.value(next, 0); val y = in.value(next, 1)
        val f = stair.floorEntry(x)
        if (f != null && f.getKey == x && f.getValue()(0) == y) {
          f.getValue()(1) += 1; size += 1
        } else if (f == null || f.getValue()(0) > y) {
          // (x, y) joins the skyline and evicts the run of points it dominates
          var e = stair.ceilingEntry(x)
          while (e != null && e.getValue()(0) >= y) {
            size -= e.getValue()(1).toLong
            stair.remove(e.getKey)
            e = stair.higherEntry(e.getKey)
          }
          stair.put(x, Array(y, 1.0)); size += 1
        }
        next += 1
      }
      size.toInt
    }
  }
}
