package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.graftbridge.DataFrameBridge
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StructField, StructType}
import graft.functions.{WmConst, WmEmbed}
import graft.plans.BoundedTopK
import graft.sqlgen.{Wm, WmParams}

/** The watermark chain's three corpus-priced stages as JVM kernels
  * that ship compiled in the jar: g_bkt (LSH bucket ids), g_knn (the
  * approximate kNN graph) and g_stego (the QIM embed of the carriers).
  *
  * Their SQL in `Gen.artifactSql` SPECIFIES each stage — it is the
  * DuckDB oracle's semantics, the reference of the parity spec
  * (ChainKernelSpec) and the stage's scratch key — and these kernels
  * EXECUTE it. On a cold JVM the generated SQL cost more to compile
  * than to run: the chain rendered 1.4–1.5 MB of Java per job for work
  * that runs once. Each kernel is row-identical to its stage SQL, with
  * the same column types, because every value comes out of the same
  * IEEE operations in the same order:
  *
  *  - v is the embedding widened to double; nrm = sqrt of the
  *    ascending left fold of v·v, n = v / nrm (the nv/nn CTEs);
  *  - every dot product is the ascending left fold of graft_dot, so
  *    dot(a, b) == dot(b, a) bit for bit and each unordered pair of a
  *    bucket is computed once;
  *  - bucket bit p of table t is set when dot(n, planesFor(t, p)) > 0;
  *  - sim is Spark's round(dot, 6) (PcaSolve.sparkRound);
  *  - the stego cells are WmEmbed's, which mirrors the stego CTEs.
  *
  * The input contract is the corpus's: unique vec_id and a non-null
  * embedding per row.
  */
object ChainKernels {

  /** The kernels' revision, part of the chain's scratch key (WmCache):
    * bump it with any change to what a kernel or WmEmbed computes, so
    * no cached chain built by an older kernel is served. */
  val Revision = 1

  private val BktSchema = StructType(Seq(
    StructField("id", LongType), StructField("t", IntegerType), StructField("b", LongType)))
  private val KnnSchema = StructType(Seq(
    StructField("src", LongType), StructField("dst", LongType),
    StructField("sim", DoubleType), StructField("rn", IntegerType)))
  private val StegoSchema = StructType(Seq(
    StructField("id", LongType), StructField("pos", IntegerType), StructField("sval", DoubleType)))

  /** graft_dot: the ascending left fold of a·b over the shorter array. */
  private def dot(a: Array[Double], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    var s = 0.0
    var i = 0
    while (i < n) { s += a(i) * b(i); i += 1 }
    s
  }

  /** The nn CTE's n: v / sqrt(v·v). */
  private def normalize(v: Array[Double]): Array[Double] = {
    val nrm = math.sqrt(dot(v, v))
    val n = new Array[Double](v.length)
    var i = 0
    while (i < v.length) { n(i) = v(i) / nrm; i += 1 }
    n
  }

  /** The bucket id of `n` in one hash table, whose hyperplanes are
    * `planes` (plane p sets bit p). */
  private def bucket(n: Array[Double], planes: Array[Array[Double]]): Long = {
    var b = 0L
    var p = 0
    while (p < planes.length) {
      if (dot(n, planes(p)) > 0) b |= 1L << p
      p += 1
    }
    b
  }

  /** The hyperplanes of every hash table, [t][p][dim]. */
  private def planeTables(planes: Int): Array[Array[Array[Double]]] =
    Array.tabulate(Wm.LshTables, planes)(WmConst.planesFor)

  /** (id, v) per row of the registered `embeddings` view. */
  private def vectors(spark: SparkSession): RDD[(Long, Array[Double])] =
    spark.table("embeddings")
      .selectExpr("cast(vec_id as bigint)", "cast(embedding as array<double>)")
      .queryExecution.toRdd
      .map(r => (r.getLong(0), r.getArray(1).toDoubleArray()))

  /** g_bkt as (id, t, b): one map-only pass that normalizes each vector
    * and computes its bucket id in every table. */
  def buckets(spark: SparkSession, planes: Int): DataFrame = {
    val tables = planeTables(planes)
    val rows = vectors(spark).flatMap { case (id, v) =>
      val n = normalize(v)
      Iterator.tabulate(tables.length)(t => InternalRow(id, t, bucket(n, tables(t))))
    }
    DataFrameBridge.fromRows(spark, rows, BktSchema)
  }

  /** g_knn as (src, dst, sim, rn): each vector's Wm.K most similar
    * bucket-mates over all tables, ranked by (sim desc, dst asc).
    *
    * One shuffle by (t, b) brings each bucket's members to one task,
    * which computes each pair's dot product once and keeps a bounded
    * top-K per member: m(m−1)/2 dot products and m heaps for a bucket
    * of m members (the largest bucket of the benchmark's 20,000-vector
    * replica, at 10 planes, has 85). A bucket is never split:
    * replicating vectors across tasks to split a hot one would
    * multiply the vector shuffle. A second shuffle by src merges the
    * ≤ tables·K candidates of each vector, dropping a dst that two
    * tables both found. */
  def knn(spark: SparkSession, planes: Int): DataFrame = {
    val tables = planeTables(planes)
    val parts = spark.sessionState.conf.numShufflePartitions
    val members = vectors(spark).flatMap { case (id, v) =>
      val n = normalize(v)
      Iterator.tabulate(tables.length)(t => ((t, bucket(n, tables(t))), (id, n)))
    }
    val rows = members.groupByKey(parts)
      .flatMap { case (_, ms) => bucketTopK(ms.toArray) }
      .reduceByKey(_ merge _, parts)
      .flatMap { case (src, top) =>
        Iterator.tabulate(top.size)(i => InternalRow(src, top.id(i), top.score(i), i + 1))
      }
    DataFrameBridge.fromRows(spark, rows, KnnSchema)
  }

  /** Every member's bounded top-K among the other members of one
    * bucket; members alone in the bucket yield nothing. */
  private def bucketTopK(ms: Array[(Long, Array[Double])]): Iterator[(Long, BoundedTopK)] = {
    val tops = Array.fill(ms.length)(new BoundedTopK(Wm.K))
    var i = 0
    while (i < ms.length) {
      var j = i + 1
      while (j < ms.length) {
        val s = dot(ms(i)._2, ms(j)._2)
        tops(i).offerRounded(s, ms(j)._1)
        tops(j).offerRounded(s, ms(i)._1)
        j += 1
      }
      i += 1
    }
    ms.iterator.map(_._1).zip(tops.iterator).filter(_._2.size > 0)
  }

  /** g_stego as (id, pos, sval): `carriers` (vec_id, blk) joined to
    * `embeddings`, then WmEmbed once per carrier under `params`. */
  def stego(spark: SparkSession, carriers: DataFrame, params: WmParams): DataFrame = {
    val rows = spark.table("embeddings")
      .selectExpr("cast(vec_id as bigint) as id", "cast(embedding as array<double>) as v")
      .join(carriers.selectExpr("cast(vec_id as bigint) as id", "cast(blk as int) as blk"), "id")
      .queryExecution.toRdd
      .flatMap { r =>
        val id = r.getLong(0)
        val sv = WmEmbed.embed(r.getArray(1).toDoubleArray(), r.getInt(2), params)
        Iterator.tabulate(sv.length)(p => InternalRow(id, p + 1, sv(p)))
      }
    DataFrameBridge.fromRows(spark, rows, StegoSchema)
  }
}
