package graft.operators

/** JVM mirror of the generated in-SQL power-iteration eigensolve shared
  * by `pca_project2d` and `pca_variance_explained` (sqlgen Queries —
  * reference: database/pgvector/pg_func.py:921-931 reduce_dimensions /
  * sklearn PCA): round the 8×8 covariance corner onto the 1e-6 grid,
  * square C twice, power-iterate C⁴ ten times from the fixed v₀,
  * Rayleigh λ₁ on C, deflate, repeat for the second axis.
  *
  * Every operation REPLICATES THE SQL RENDERING'S EXACT IEEE ORDER —
  * left-to-right 8-term sums (((t₁+t₂)+t₃)…), the same literal v₀
  * doubles, `round(x, 6)` as Catalyst's BigDecimal HALF_UP — so the
  * JVM doubles are bit-identical to what the chained-CTE SQL produces
  * from the same rounded covariance, and the DuckDB oracle (which
  * still runs the full in-SQL chain) hash-pins the mirror op for op.
  * Input is the ONE collected st0 row (Gen.pcaMomentsSql, 44 doubles
  * — O(d²) driver math, the events_attribution_markov convention);
  * this replaces a ~50-deep 1-row HashAggregate chain whose cost was
  * pure per-stage exchange latency (4.9 s → the moments pass alone).
  */
object PcaSolve {
  val Dim = 8
  val Iters = 10
  private val nrm0 = math.sqrt((1 to Dim).map(y => y.toDouble * y).sum)

  /** Catalyst's round(x, dec) for DoubleType: BigDecimal.valueOf
    * (shortest decimal repr) + HALF_UP — NOT the IEEE-binary round;
    * NaN and infinities unchanged. The engine's one JVM copy.
    *
    * Fast path, exact: with y = |x|·10^dec < 10^7 and y's fraction more
    * than 10^−6 from one half, y rounds to the same integer r as the
    * shortest decimal of x scaled by 10^dec (the two differ by a few
    * ulp(y), ≤ 2^−29 each), and r / 10^dec is the correctly rounded
    * double of the decimal BigDecimal rounds to. Every other value
    * takes the BigDecimal path (SparkRoundingSpec checks the two bit
    * for bit). */
  def sparkRound(x: Double, dec: Int): Double = {
    if (dec >= 0 && dec < Pow10.length) {
      val p = Pow10(dec)
      val y = math.abs(x) * p
      if (y < 1e7) {
        val f = y - math.floor(y)
        if (math.abs(f - 0.5) > 1e-6) {
          val r = math.floor(y + 0.5)
          return (if (x < 0) -r else r) / p + 0.0
        }
      }
    }
    sparkRoundDecimal(x, dec)
  }

  /** 10^dec, exact, for the fast path of [[sparkRound]]. */
  private val Pow10 = Array(1e0, 1e1, 1e2, 1e3, 1e4, 1e5, 1e6, 1e7, 1e8, 1e9, 1e10,
    1e11, 1e12, 1e13, 1e14, 1e15)

  /** [[sparkRound]] on the BigDecimal path alone. */
  private[graft] def sparkRoundDecimal(x: Double, dec: Int): Double =
    if (x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(dec, java.math.RoundingMode.HALF_UP).doubleValue()

  /** The house roundAway quantizer (Prim.roundAway's exact IEEE ops,
    * + 0.0 included: −0.0 comes out +0.0). The engine's one JVM copy. */
  def roundAway(x: Double, dec: Int): Double = {
    val m = math.pow(10, dec.toDouble)
    (if (x >= 0) math.floor(x * m + 0.5) else -math.floor(-x * m + 0.5)) / m + 0.0
  }

  /** c: rounded covariance; mu: rounded means; ev/lam1: first axis;
    * v2/lam2: second (deflated) axis; tr: Σ c_ii. */
  final case class Eig(c: Array[Array[Double]], mu: Array[Double],
                       lam1: Double, ev: Array[Double],
                       v2: Array[Double], lam2: Double, tr: Double)

  /** `a(i)` = avg(v_i) (0-based); `m(i)(j)` = avg(v_i·v_j) for i ≤ j. */
  def solve(a: Array[Double], m: (Int, Int) => Double): Eig = {
    // cw: c_ij = round(m_ij − a_i·a_j, 6); mu_i = round(a_i, 6)
    val c = Array.tabulate(Dim, Dim)((i, j) =>
      sparkRound(m(math.min(i, j), math.max(i, j)) - a(i) * a(j), 6))
    val mu = Array.tabulate(Dim)(i => sparkRound(a(i), 6))
    // dst = src·src — the SQL's left-to-right 8-term sum per cell
    def sq(x: Array[Array[Double]]): Array[Array[Double]] =
      Array.tabulate(Dim, Dim) { (i, j) =>
        var s = 0.0; var k = 0
        while (k < Dim) { s += x(i)(k) * x(k)(j); k += 1 }
        s
      }
    // pa0..paN: v ← M v / ‖M v‖ from the literal v₀ = (1..8)/‖(1..8)‖
    def powerIter(mm: Array[Array[Double]]): Array[Double] = {
      var v = Array.tabulate(Dim)(i => (i + 1) / nrm0)
      var t = 0
      while (t < Iters) {
        val w = Array.tabulate(Dim) { i =>
          var s = 0.0; var j = 0
          while (j < Dim) { s += mm(i)(j) * v(j); j += 1 }
          s
        }
        var n2 = 0.0; var j = 0
        while (j < Dim) { n2 += w(j) * w(j); j += 1 }
        val nrm = math.sqrt(n2)
        v = Array.tabulate(Dim)(i => w(i) / nrm)
        t += 1
      }
      v
    }
    // λ = Σ_i v_i·(Σ_j c_ij·v_j) — always the Rayleigh quotient on C
    def rayleigh(v: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < Dim) {
        var t = 0.0; var j = 0
        while (j < Dim) { t += c(i)(j) * v(j); j += 1 }
        s += v(i) * t; i += 1
      }
      s
    }
    val ev = powerIter(sq(sq(c)))
    val lam1 = rayleigh(ev)
    // dfl: d_ij = c_ij − (lam1·ev_i)·ev_j, then iterate (d²)²
    val dM = Array.tabulate(Dim, Dim)((i, j) => c(i)(j) - lam1 * ev(i) * ev(j))
    val v2 = powerIter(sq(sq(dM)))
    val lam2 = rayleigh(v2)
    var tr = 0.0
    var i = 0
    while (i < Dim) { tr += c(i)(i); i += 1 }
    Eig(c, mu, lam1, ev, v2, lam2, tr)
  }
}
