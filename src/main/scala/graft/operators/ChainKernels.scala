package graft.operators

import scala.reflect.ClassTag
import org.apache.spark.Partitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.graftbridge.DataFrameBridge
import org.apache.spark.sql.types.{Decimal, DoubleType, IntegerType, LongType, StructField,
  StructType}
import graft.functions.{Prf, WmConst, WmEmbed}
import graft.plans.BoundedTopK
import graft.sqlgen.{Wm, WmParams}

/** The watermark chain's stages as JVM kernels that ship compiled in
  * the jar: g_bkt (LSH bucket ids), g_knn (the approximate kNN graph),
  * g_indeg (in-degree per vector), g_carriers (the key-seeded carrier
  * selection) and g_stego (the QIM embed of the carriers).
  *
  * Their SQL in `Gen.artifactSql` SPECIFIES each stage — it is the
  * DuckDB oracle's semantics, the reference of the parity spec
  * (ChainKernelSpec) and the stage's scratch key — and these kernels
  * EXECUTE it. On a cold JVM the generated SQL cost more to compile
  * and plan than to run: the chain rendered 1.4–1.5 MB of Java per job
  * for work that runs once, and g_carriers alone planned 27 exchanges.
  * Each kernel is row-identical to its stage SQL, with the same column
  * types, because every value comes out of the same operations in the
  * same order:
  *
  *  - v is the embedding widened to double; nrm = sqrt of the
  *    ascending left fold of v·v, n = v / nrm (the nv/nn CTEs);
  *  - every dot product is the ascending left fold of graft_dot, so
  *    dot(a, b) == dot(b, a) bit for bit and each unordered pair of a
  *    bucket is computed once;
  *  - bucket bit p of table t is set when dot(n, planesFor(t, p)) > 0;
  *  - sim is Spark's round(dot, 6) (PcaSolve.sparkRound);
  *  - the stego cells are WmEmbed's, which mirrors the stego CTEs;
  *  - the carrier sizes and scores are computed in Spark's decimal and
  *    double arithmetic ([[carrierSizes]], [[selectionScore]]), and
  *    ranks follow Spark's double order (BoundedTopK.compare).
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
  private val IndegSchema = StructType(Seq(
    StructField("vec_id", LongType), StructField("in_degree", LongType)))
  private val CarrierSchema = StructType(Seq(
    StructField("vec_id", LongType), StructField("in_degree", LongType),
    StructField("sel_rank", LongType), StructField("blk", LongType)))
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

  /** g_indeg as (vec_id, in_degree): every `embeddings` vec_id, with
    * the number of g_knn rows whose dst it is. One shuffle: each vector
    * meets the g_knn rows that point at it. */
  def indeg(spark: SparkSession): DataFrame = {
    val parts = spark.sessionState.conf.numShufflePartitions
    // (vectors, edges) per id: a vec_id the corpus holds twice gets
    // its count twice, as in the SQL's left join
    val vecs = vectorIds(spark.table("embeddings"), "vec_id").map(id => (id, (1, 0L)))
    val edges = vectorIds(spark.table("g_knn"), "dst").map(id => (id, (0, 1L)))
    val rows = vecs.union(edges)
      .reduceByKey((a, b) => (a._1 + b._1, a._2 + b._2), parts)
      .flatMap { case (id, (n, c)) => Iterator.fill(n)(InternalRow(id, c)) }
    DataFrameBridge.fromRows(spark, rows, IndegSchema)
  }

  /** Column `c` of `df` as bigint. */
  private def vectorIds(df: DataFrame, c: String): RDD[Long] =
    df.selectExpr(s"cast($c as bigint)").queryExecution.toRdd.map(_.getLong(0))

  /** The carrier-selection sizes over a corpus of `nvec` vectors at
    * embed rate `rate`: (target, pool). target = max(⌊nvec·rate⌋,
    * Blocks) and pool = min(target + ⌊target·0.5⌋, nvec), computed as
    * the SQL does: in exact decimal, or in double when the rate's
    * literal (its Double.toString) has an exponent, which Spark SQL
    * reads as a double. */
  private def carrierSizes(nvec: Long, rate: Double): (Long, Long) = {
    val lit = rate.toString
    val scaled =
      if (lit.contains('E')) math.floor(nvec * rate).toLong
      else (BigDecimal(nvec) * BigDecimal(lit)).setScale(0, BigDecimal.RoundingMode.FLOOR).toLongExact
    val target = math.max(scaled, Wm.Blocks.toLong)
    (target, math.min(target + target / 2, nvec))
  }

  /** 2^60 as the SQL literal 1152921504606846976.0. */
  private val TwoTo60 = Decimal(new java.math.BigDecimal("1152921504606846976.0"))

  /** The selection score −ln(u)/w of carrier candidate `id` with
    * in-degree `deg`, evaluated as Spark evaluates the scored CTE: u =
    * (prf('sel', key, id) + 1) / 2^60 is a bigint over a DECIMAL(20,1)
    * literal, so DECIMAL(38,17) rounded half up, then cast to double;
    * ln is StrictMath.log; w is 0.9, 0.7, 0.5, 0.4 or 0.3 for in-degree
    * 0, 1, 2, 3 or more. */
  private def selectionScore(key: String, id: Long, deg: Long): Double = {
    val u = Decimal(Prf.prf("sel", key, id) + 1) / TwoTo60
    u.changePrecision(38, 17) // half up, in place
    val w = if (deg == 0) 0.9 else if (deg == 1) 0.7 else if (deg == 2) 0.5
      else if (deg == 3) 0.4 else 0.3
    -StrictMath.log(u.toDouble) / w
  }

  /** (score, vec_id, in_degree) in the carriers' rank order: score,
    * then vec_id, under Spark's double order. */
  private object ScoreOrder extends Ordering[(Double, Long, Long)] {
    def compare(a: (Double, Long, Long), b: (Double, Long, Long)): Int = {
      val c = BoundedTopK.compare(a._1, b._1)
      if (c != 0) c else java.lang.Long.compare(a._2, b._2)
    }
  }

  /** g_carriers as (vec_id, in_degree, sel_rank, blk) under `params`
    * from `indeg` (vec_id, in_degree): the pool is the first `pool`
    * vectors by (in_degree, vec_id); each pool vector is scored
    * ([[selectionScore]]); sel_rank ranks the pool by (score, vec_id),
    * the first `target` are the carriers, and blk = (sel_rank − 1) %
    * Blocks. nvec is the in-degree table's row count, one per corpus
    * row. Only two histograms reach the driver — vectors per in-degree
    * and pool vectors per score bucket — and both rankings run
    * distributed ([[ranked]]). */
  def carriers(spark: SparkSession, indeg: DataFrame, params: WmParams): DataFrame = {
    val key = params.key
    val parts = spark.sessionState.conf.numShufflePartitions
    val byDegree = indeg.selectExpr("cast(in_degree as bigint)", "cast(vec_id as bigint)")
      .queryExecution.toRdd.map(r => (r.getLong(0), r.getLong(1)))
    val degrees = byDegree.keys.countByValue()
    val (target, pool) = carrierSizes(degrees.values.sum, params.rate)
    val scored = ranked(byDegree, pool, Ordering[(Long, Long)], parts)(_._1, degrees)
      .map { case (_, (deg, id)) => (selectionScore(key, id, deg), id, deg) }
    val bucket = (s: (Double, Long, Long)) => math.min(math.floor(s._1 * 8).toLong, 255L)
    val rows = ranked(scored, target, ScoreOrder, parts)(bucket, scored.map(bucket).countByValue())
      .map { case (rank, (_, id, deg)) => InternalRow(id, deg, rank, (rank - 1) % Wm.Blocks) }
    DataFrameBridge.fromRows(spark, rows, CarrierSchema)
  }

  /** The first `limit` rows of `rows` by `ord`, each with its rank
    * 1..limit. `bucket` must be monotone in `ord` and `counts` hold the
    * rows per bucket, so each bucket's first rank is known on the
    * driver: buckets past the limit are dropped before the shuffle,
    * the rest are range-partitioned in bucket order over at most
    * `maxParts` partitions (balanced by their counts), and each
    * partition is sorted by `ord`. */
  private def ranked[T: ClassTag](rows: RDD[T], limit: Long, ord: Ordering[T], maxParts: Int)(
      bucket: T => Long, counts: scala.collection.Map[Long, Long]): RDD[(Long, T)] = {
    val sorted = counts.toSeq.sortBy(_._1)
    val firsts = sorted.scanLeft(0L)(_ + _._2)
    val kept = sorted.map(_._1).zip(firsts).takeWhile(_._2 < limit)
    if (kept.isEmpty) return rows.sparkContext.emptyRDD[(Long, T)]
    val keptRows = math.min(limit, firsts(kept.size))
    val parts = math.max(1L, math.min(maxParts.toLong, keptRows)).toInt
    val partOf = kept.map { case (b, first) =>
      b -> math.min(parts - 1, (first * parts / keptRows).toInt) }.toMap
    // each partition's first rank - 1: that of its first bucket
    val partFirst = Array.fill(parts)(0L)
    kept.reverseIterator.foreach { case (b, first) => partFirst(partOf(b)) = first }
    val partitioner = new Partitioner {
      def numPartitions: Int = parts
      def getPartition(key: Any): Int = partOf(bucket(key.asInstanceOf[T]))
    }
    implicit val o: Ordering[T] = ord
    rows.filter(r => partOf.contains(bucket(r))).map(r => (r, ()))
      .repartitionAndSortWithinPartitions(partitioner)
      .mapPartitionsWithIndex { (p, it) =>
        it.zipWithIndex.map { case ((r, _), i) => (partFirst(p) + i + 1, r) }
          .takeWhile(_._1 <= limit)
      }
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
