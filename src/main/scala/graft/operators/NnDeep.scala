package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Tables
import graft.functions.WmConst

/** Distributed forward pass of the deep NN-decoder witness
  * (wm_nn_decode_deep) as a mapPartitions build — the per-row
  * imperative twin of the generated SQL chain
  * (sqlgen.Queries.nnDeepChainCtes), producing the quantized-logit
  * artifact the serving census aggregates.
  *
  * Why mapPartitions here (the documented last resort): the unrolled
  * depth-6 forward pass is a ~9k-literal expression tree, and
  * CATALYST OPTIMIZATION ALONE on that tree costs ~45 s per action —
  * data-independent, paid before a single row moves (and its fused
  * codegen units overflow janino's 64 KB method cap on top). A 6-block
  * MLP is genuinely per-row imperative math; this build runs it as one
  * compiled JVM pass over the corpus partitions — no shuffle, no
  * planning blowup, embarrassingly parallel at any corpus size.
  *
  * Bit-parity with the SQL renderings is BY CONSTRUCTION: every step
  * is a single correctly-rounded IEEE op on identical doubles in the
  * identical left-to-right order the SQL parses to (the JVM-mirror
  * convention every spec in this repo already relies on), the folded
  * LN→fc constants come from the ONE shared derivation
  * (WmConst.nnDeepFold), and NnDeepSpec pins this build against the
  * executed SQL chain row-for-row. */
object NnDeep {
  private val Depth = 6
  private val Hid = 8
  private val Dim = graft.sqlgen.Wm.Dim
  private val Out = 24

  private def rr(x: Double): Double = PcaSolve.roundAway(x, 0)

  // every PRF-derived constant hoisted OUT of the per-row pass: the
  // PRF is an md5, and deriving weights inline cost ~17k hashes PER
  // ROW (measured: minutes at sf0.1). These tables are the same
  // values the SQL generator inlines as literals.
  private case class Fold(c: Array[Double], cSum: Double, bias: Double)
  private lazy val fc1: Array[Array[Fold]] = Array.tabulate(Depth, Hid) { (b0, j0) =>
    val (c, cSum, bSum) = WmConst.nnDeepFold(s"dw1_${b0 + 1}", s"ng${b0 + 1}", s"nh${b0 + 1}", j0 + 1)
    Fold(c, cSum, WmConst.nnWeight(s"db1_${b0 + 1}", j0 + 1, 0) + bSum)
  }
  private lazy val fc2w: Array[Array[Array[Double]]] = Array.tabulate(Depth, Dim, Hid) {
    (b0, k0, j0) => WmConst.nnWeight(s"dw2_${b0 + 1}", k0 + 1, j0 + 1)
  }
  private lazy val fc2b: Array[Array[Double]] = Array.tabulate(Depth, Dim) {
    (b0, k0) => WmConst.nnWeight(s"db2_${b0 + 1}", k0 + 1, 0)
  }
  private lazy val head: Array[Fold] = Array.tabulate(Out) { m0 =>
    val (c, cSum, bSum) = WmConst.nnDeepFold("dwo", "ngF", "nhF", m0 + 1)
    Fold(c, cSum, WmConst.nnWeight("dbo", m0 + 1, 0) + bSum)
  }

  /** (mu, sg) of the SQL moment stages: sums of x_k·1e6 terms in
    * ascending-k left-fold order, one division per moment. */
  private def moments(x: Array[Double]): (Double, Double) = {
    var s1 = 0.0
    var s2 = 0.0
    var k = 0
    while (k < Dim) {
      val q = x(k) * 1000000.0
      s1 = s1 + q
      s2 = s2 + q * q
      k += 1
    }
    // divisor derived from Dim, mirroring nnDeepChainCtes (r11
    // ADVICE); the 1e12 is the (1e6)² lattice scale, not Dim
    val mu = s1 / Dim.toDouble / 1000000.0
    val m2 = s2 / Dim.toDouble / 1.0e12
    (mu, math.sqrt(math.max(m2 - mu * mu, 0.0) + 0.000001))
  }

  /** The full forward pass: raw embedding → 24 quantized logits. */
  def forward(v: Array[Double]): Array[Long] = {
    // input projects onto the 1e-6 lattice (x0)
    var x = Array.tabulate(Dim)(k => rr(v(k) * 1000000.0) / 1000000.0)
    var b = 0
    while (b < Depth) {
      val (mu, sg) = moments(x)
      val h = new Array[Double](Hid)
      var j = 0
      while (j < Hid) {
        val f = fc1(b)(j)
        var dot = 0.0
        var k = 0
        while (k < Dim) { dot = dot + x(k) * f.c(k); k += 1 }
        h(j) = math.max(f.bias + ((dot - mu * f.cSum) / sg), 0.0)
        j += 1
      }
      val xn = new Array[Double](Dim)
      var k = 0
      while (k < Dim) {
        var t = x(k) + fc2b(b)(k)
        var jj = 0
        while (jj < Hid) {
          t = t + h(jj) * fc2w(b)(k)(jj)
          jj += 1
        }
        xn(k) = rr(t * 1000000.0) / 1000000.0 // block output re-grids
        k += 1
      }
      x = xn
      b += 1
    }
    val (mu, sg) = moments(x)
    Array.tabulate(Out) { m0 =>
      val f = head(m0)
      var dot = 0.0
      var k = 0
      while (k < Dim) { dot = dot + x(k) * f.c(k); k += 1 }
      val g = f.bias + ((dot - mu * f.cSum) / sg)
      rr(g * 1000000.0).toLong
    }
  }

  /** The quantized-logit table (p1..p24) over the corpus — the
    * g_nn_deep_logits artifact build. */
  def logits(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, element_at}
    Tables.read(spark, s"$dir/embeddings.parquet")
      .select("embedding").as[Seq[Float]]
      .mapPartitions(_.map(emb => forward(emb.map(_.toDouble).toArray)))
      .select((1 to Out).map(m => element_at(col("value"), m).as(s"p$m")): _*)
  }
}
