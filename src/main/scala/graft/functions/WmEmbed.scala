package graft.functions

import graft.sqlgen.{Wm, WmParams}

/** JVM-side per-vector QIM embed — the same math as the SQL stego chain
  * (normalize, 24 keyed masked projections, snap each to the message
  * bit's lattice parity, distribute the shift over the group's dims,
  * analytic renormalization), shared by the streaming embedder and the
  * g_stego chain kernel (operators.ChainKernels).
  *
  * Fold order matches the SQL masked sums (ascending pos, zero weights
  * contributing exactly 0.0), the lattice point is the SQL's decimal
  * product ([[latticePoint]]), and the analytic ‖n+δ‖² accumulates
  * groups in ascending order like the generated pnSq expression, so
  * the two paths agree bit-for-bit (ChainKernelSpec, which checks the
  * g_stego kernel built on this against the stage SQL, and
  * StreamingEmbedSpec).
  *
  * Reference behavior: database/pgvector/pg_func.py:332-395
  * embed_into_db (encoder-NN perturbation + norm restore); this is the
  * deterministic spread-spectrum/QIM analog documented in SURVEY §1.
  */
object WmEmbed {

  /** The QIM lattice point m·Δ as the stego SQL computes it: Δ renders
    * into the SQL as `Δ.toString`, and `bigint * <literal>` is an
    * exact decimal product converted to double when the literal is a
    * decimal (`0.15`), a double product when it has an exponent
    * (`1.0E-4`, which Spark SQL reads as a double literal). */
  def latticePoint(m: Long, delta: Double): Double = {
    val lit = delta.toString
    if (lit.contains('E')) m * delta
    else new java.math.BigDecimal(m).multiply(new java.math.BigDecimal(lit)).doubleValue()
  }

  /** vals = the RAW vector in pos order; blk = this carrier's block
    * index (sel_rank-derived, reference: i mod 16). Returns the stego
    * vector (original norm restored). */
  def embed(vals: Array[Double], blk: Int,
            params: WmParams = WmParams.Default): Array[Double] = {
    require(vals.length == Wm.Dim, s"expected ${Wm.Dim} dims")
    val kc = WmConst.keyed(params.key)
    val msg = WmConst.msgBits(params.cipherB64)
    val delta = params.delta
    var ss = 0.0
    var i = 0
    while (i < vals.length) { ss += vals(i) * vals(i); i += 1 }
    val nrm = math.sqrt(ss)
    val nval = Array.tabulate(Wm.Dim)(k => vals(k) / nrm)
    // 24 keyed masked projections, ascending pos (zero off-group terms
    // kept so the fold is identical to the SQL sum)
    val pj = new Array[Double](Wm.MsgLen)
    var g = 0
    while (g < Wm.MsgLen) {
      var q = 0.0
      var p = 1
      while (p <= Wm.Dim) {
        val w = if (kc.dimGroup(p) == g) kc.dimSign(p) else 0.0
        q += nval(p - 1) * w
        p += 1
      }
      pj(g) = q
      g += 1
    }
    // QIM shift per group: nearest lattice point whose parity is the bit
    val sh = Array.tabulate(Wm.MsgLen) { g =>
      val bit = msg(blk)(g)
      latticePoint(2 * math.floor((pj(g) / delta - bit) / 2 + 0.5).toLong + bit, delta) - pj(g)
    }
    // analytic renormalizer: ‖n+δ‖² = 1 + Σ_g (2·sh_g·pj_g + sh_g²)/cnt_g
    var pnSq = 1.0
    g = 0
    while (g < Wm.MsgLen) {
      pnSq += (2 * sh(g) * pj(g) + sh(g) * sh(g)) / kc.groupCnt(g)
      g += 1
    }
    val pn = math.sqrt(pnSq)
    Array.tabulate(Wm.Dim) { k =>
      val pos = k + 1
      (nval(k) + kc.dimSign(pos) * sh(kc.dimGroup(pos)) / kc.groupCnt(kc.dimGroup(pos))) / pn * nrm
    }
  }
}
