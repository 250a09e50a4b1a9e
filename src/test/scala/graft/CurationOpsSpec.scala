package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.functions.Prf

/** Semantic guarantees of the curation-side round-6 ops beyond the
  * oracle gate: winnowing's fingerprint selection re-derived in a JVM
  * mirror, the cluster representative's quality-argmax law, the
  * outlier queue's bottom-k order, readability's closed-form mirror,
  * and a brute recount of the Q19 disjunctive predicate.
  */
class CurationOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private def run(name: String) =
    SparkEntry.queries(name)(spark, TestSpark.Sf)

  private lazy val docs: Map[Long, String] =
    spark.read.parquet(s"${TestSpark.Sf}/documents.parquet").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap

  // ---------------- dedup_winnow ----------------

  /** JVM mirror of the SQL fingerprint chain: 5-word shingle hashes
    * (15-hex-digit md5 prefix), min over each 4-window, distinct
    * values, df-capped at 64 docs. */
  private def winnowFps(text: String): Set[Long] = {
    val ws = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
    if (ws.length < 8) Set.empty
    else {
      val hashes = ws.sliding(5).map(g =>
        java.lang.Long.parseLong(Prf.md5hex(g.mkString(" ")).take(15), 16)).toArray
      hashes.sliding(4).map(_.min).toSet
    }
  }

  test("dedup_winnow: pair counts match the JVM fingerprint mirror") {
    val fps = docs.map { case (id, t) => id -> winnowFps(t) }
    val df = fps.values.flatten.groupBy(identity).map { case (f, os) => f -> os.size }
    val kept = fps.map { case (id, s) => id -> s.filter(f => df(f) <= 64) }
    val expected = (for {
      (a, fa) <- kept; (b, fb) <- kept if a < b
      n = (fa intersect fb).size if n >= 2
    } yield (a, b) -> n.toLong).toMap
    val got = run("dedup_winnow").collect().map(r =>
      (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) -> r.getAs[Long]("n_shared_fp")).toMap
    assert(got == expected, s"winnow pairs diverge: got ${got.size}, expected ${expected.size}")
  }

  test("dedup_winnow: a shared 8-word run guarantees a shared fingerprint") {
    // the winnowing theorem on the mirror primitive: any two texts
    // sharing a k+w-1 = 8 word window share at least one selected value
    val base = "alpha beta gamma delta epsilon zeta eta theta"
    val t1 = s"unrelated prefix words here $base trailing one"
    val t2 = s"$base completely different suffix tokens follow now"
    assert((winnowFps(t1) intersect winnowFps(t2)).nonEmpty)
  }

  // ---------------- dedup_cluster_rep ----------------

  test("dedup_cluster_rep: the representative is the quality argmax of its component") {
    val comp = run("dedup_components").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("keeper")).toMap
    val quality = run("text_quality").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("quality")).toMap
    val byComp = comp.groupBy(_._2).map { case (c, m) => c -> m.keys.toSeq }
    val out = run("dedup_cluster_rep").collect()
    assert(out.length == byComp.size, "one row per component")
    out.foreach { r =>
      val c = r.getAs[Long]("component")
      val members = byComp(c)
      assert(r.getAs[Long]("n_members") == members.length)
      val best = members.map(id => (quality(id), -id)).max
      assert(r.getAs[Long]("rep_doc") == -best._2, s"component $c representative")
      assert(r.getAs[Double]("rep_quality") == best._1, s"component $c quality")
    }
  }

  // ---------------- vec_outliers ----------------

  test("vec_outliers: exactly the bottom-25 sims, ranked, with consistent z-scores") {
    Tables.register(spark, TestSpark.Sf)
    WmCache.ensureAll(spark, TestSpark.Sf)
    val sims = spark.sql(
      """select a.id, round(graft_dot(nn.n, c.cv) / sqrt(graft_dot(c.cv, c.cv)), 6) as sim
        |from g_ivf_asg a
        |join (select id, transform(cast(embedding as array<double>), x -> x / nrm) as n
        |      from (select vec_id as id, embedding,
        |              sqrt(graft_dot(cast(embedding as array<double>), cast(embedding as array<double>))) as nrm
        |            from embeddings) _n) nn on nn.id = a.id
        |join g_ivf_ct c on c.cell = a.cell""".stripMargin).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Double]("sim"))
    val bottom = sims.sortBy { case (id, s) => (s, id) }.take(25)
    val out = run("vec_outliers").collect().sortBy(_.getAs[Long]("rn"))
    assert(out.length == 25)
    assert(out.map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("sim"))).toSeq ==
      bottom.toSeq, "bottom-25 membership and order")
    val mu = sims.map(_._2).sum / sims.length
    val sigma = math.sqrt(math.max(
      sims.map(s => s._2 * s._2).sum / sims.length - mu * mu, 0.0))
    out.foreach { r =>
      val z = (r.getAs[Double]("sim") - mu) / sigma
      assert(math.abs(r.getAs[Double]("z") - z) < 1e-3, s"z mirror: ${r.getAs[Double]("z")} vs $z")
      assert((r.getAs[Long]("is_outlier") == 1) == (r.getAs[Double]("sim") < mu - 2 * sigma))
    }
  }

  // ---------------- text_readability ----------------

  test("text_readability: closed-form mirror per doc") {
    val out = run("text_readability").collect()
    assert(out.length == docs.size)
    out.foreach { r =>
      val t = docs(r.getAs[Long]("doc_id"))
      val nw = math.max(t.split("\\s+").count(_.nonEmpty), 1)
      val ns = math.max("[.!?]+".r.findAllIn(t).length, 1)
      val nsy = math.max("[aeiouy]+".r.findAllIn(t.toLowerCase).length, 1)
      assert(r.getAs[Long]("n_words") == nw)
      assert(r.getAs[Long]("n_sentences") == ns)
      assert(r.getAs[Long]("n_syllables") == nsy)
      val flesch = 206.835 - 1.015 * (nw.toDouble / ns) - 84.6 * (nsy.toDouble / nw)
      assert(math.abs(r.getAs[Double]("flesch") - flesch) < 1e-3)
      val fk = 0.39 * (nw.toDouble / ns) + 11.8 * (nsy.toDouble / nw) - 15.59
      assert(math.abs(r.getAs[Double]("fk_grade") - fk) < 1e-3)
    }
  }

  // ---------------- q19_disjunctive ----------------

  test("q19_disjunctive: brute JVM recount of the OR-of-ANDs predicate") {
    Tables.register(spark, TestSpark.Sf)
    val part = spark.table("part").collect()
      .map(r => r.getAs[Long]("p_partkey") ->
        (r.getAs[String]("p_brand"), r.getAs[Int]("p_size"))).toMap
    val li = spark.table("lineitem").collect()
    var n = 0L
    var rev = BigDecimal(0)
    li.foreach { r =>
      val (brand, size) = part(r.getAs[Long]("l_partkey"))
      val q = r.getAs[Double]("l_quantity")
      val hit =
        (brand == "Brand#1" && size >= 1 && size <= 5 && q >= 1 && q <= 11) ||
        (brand == "Brand#3" && size >= 1 && size <= 10 && q >= 10 && q <= 20) ||
        (brand == "Brand#5" && size >= 1 && size <= 15 && q >= 20 && q <= 30)
      if (hit) {
        n += 1
        rev += BigDecimal(r.getAs[Double]("l_extendedprice")).setScale(4, BigDecimal.RoundingMode.HALF_UP) *
          BigDecimal(1 - r.getAs[Double]("l_discount")).setScale(4, BigDecimal.RoundingMode.HALF_UP)
      }
    }
    val out = run("q19_disjunctive").collect().head
    assert(out.getAs[Long]("n_items") == n)
    assert(math.abs(out.getAs[Double]("revenue") -
      rev.setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble) < 0.02)
  }
}
