package graft.plans

import graft.operators.PcaSolve

/** The k best (score, id) entries offered so far, best first: score
  * descending, then id ascending — the `order by sim desc, id` of the
  * SQL rankings, under Spark's double ordering (NaN above every
  * number, -0.0 equal to 0.0). k is a small per-query or per-vector
  * bound, so the entries live in one sorted array and an offer is an
  * insertion. Shared by CosineTopK's per-query heaps and the kNN-graph
  * kernel's per-vector heaps. */
final class BoundedTopK(val k: Int) extends Serializable {
  import BoundedTopK.better
  private val scores = new Array[Double](k)
  private val ids = new Array[Long](k)
  private var n = 0

  def size: Int = n
  def score(i: Int): Double = scores(i)
  def id(i: Int): Long = ids(i)

  def offer(score: Double, id: Long): Unit =
    if (n < k || better(score, id, scores(k - 1), ids(k - 1))) {
      // fill the next slot, or overwrite the worst when full
      var i = if (n < k) n else k - 1
      while (i > 0 && better(score, id, scores(i - 1), ids(i - 1))) {
        scores(i) = scores(i - 1); ids(i) = ids(i - 1); i -= 1
      }
      scores(i) = score; ids(i) = id
      if (n < k) n += 1
    }

  /** Offers `raw` rounded to 6 places, rounding only when the rounded
    * value could enter: a full heap turns away a raw score more than
    * 1e-6 below its worst, which no half-up rounding to 6 places can
    * lift to the worst. */
  def offerRounded(raw: Double, id: Long): Unit =
    if (n < k || !(raw < scores(k - 1) - 1e-6)) offer(PcaSolve.sparkRound(raw, 6), id)

  /** Adds the entries of `o` whose id this heap does not hold yet. */
  def merge(o: BoundedTopK): BoundedTopK = {
    var i = 0
    while (i < o.n) {
      if (!holds(o.ids(i))) offer(o.scores(i), o.ids(i))
      i += 1
    }
    this
  }

  private def holds(id: Long): Boolean = {
    var i = 0
    while (i < n && ids(i) != id) i += 1
    i < n
  }
}

object BoundedTopK {
  /** Spark SQL's double comparison (SQLOrderingUtil.compareDoubles). */
  def compare(a: Double, b: Double): Int =
    if (a == b) 0 else java.lang.Double.compare(a, b)

  private def better(s: Double, id: Long, s2: Double, id2: Long): Boolean = {
    val c = compare(s, s2)
    c > 0 || (c == 0 && id < id2)
  }
}
