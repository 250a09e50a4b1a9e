package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Whole-operator top-k cosine similarity search: for a BOUNDED query
  * set (the reference's per-request search surface: pgvector `<->`
  * top-k / Milvus search), find each query's k most-similar corpus
  * vectors.
  *
  * Spark's declarative formulation (join + row_number window) must
  * materialize |Q|·|corpus| rows and sort per query. This operator
  * streams the corpus ONCE per partition, keeping a bounded heap per
  * query (O(|Q|·k) state), then merges the per-partition partials —
  * the shape that survives a 1000-executor / 100 TB corpus, provided
  * |Q|·k partials stay driver-mergeable (the contract of a search API).
  *
  * Pattern: custom LogicalPlan + Strategy + physical exec, injected via
  * `spark.experimental.extraStrategies` (or equivalently
  * SparkSessionExtensions.injectPlannerStrategy).
  *
  * Inputs: queries (qid bigint, qvec array<double>), corpus (cid
  * bigint, cvec array<double>), RAW — the operator L2-normalizes each
  * row once on load (an outer-column norm in a SQL lambda gets
  * substituted per element by projection collapse; see SURVEY §4).
  * Output: (qid, neighbor_id, sim rounded to 6, rn 1..k) — identical
  * semantics to the `vec_topk` oracle query (sim desc, id tiebreak).
  */
case class CosineTopK(k: Int, queries: LogicalPlan, corpus: LogicalPlan)
    extends BinaryNode {
  override def left: LogicalPlan = queries
  override def right: LogicalPlan = corpus
  // the exec reads (id, vec) positionally from both children — without
  // this, ColumnPruning sees zero references and strips the child
  // columns out from under the physical operator (observed as an
  // Unsafe_GetLong segfault)
  override def references: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(
      queries.output ++ corpus.output)
  override val output: Seq[Attribute] = Seq(
    AttributeReference("qid", LongType, nullable = false)(),
    AttributeReference("neighbor_id", LongType, nullable = false)(),
    AttributeReference("sim", DoubleType, nullable = false)(),
    AttributeReference("rn", LongType, nullable = false)())
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): CosineTopK =
    copy(queries = newLeft, corpus = newRight)
}

object CosineTopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case CosineTopK(k, q, c) =>
      CosineTopKExec(k, planLater(q), planLater(c), plan.output) :: Nil
    case _ => Nil
  }

  /** Idempotently register the strategy on a session. */
  def register(spark: SparkSession): Unit =
    if (!spark.experimental.extraStrategies.contains(CosineTopKStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ CosineTopKStrategy
}

case class CosineTopKExec(k: Int, queries: SparkPlan, corpus: SparkPlan,
                          override val output: Seq[Attribute])
    extends BinaryExecNode {
  override def left: SparkPlan = queries
  override def right: SparkPlan = corpus

  private def normalize(v: Array[Double]): Array[Double] = {
    var ss = 0.0; var i = 0
    while (i < v.length) { ss += v(i) * v(i); i += 1 }
    val nrm = math.sqrt(ss)
    // zero-norm guard: a zero vector has no cosine direction; leave it
    // as zeros so every sim against it is a clean 0.0 instead of NaN
    // (BigDecimal.valueOf(NaN) would throw and kill the job)
    if (nrm == 0.0 || nrm.isNaN) return v
    i = 0
    while (i < v.length) { v(i) /= nrm; i += 1 }
    v
  }

  override protected def doExecute(): RDD[InternalRow] = {
    val qRows: Array[(Long, Array[Double])] = queries.executeCollect()
      .map(r => (r.getLong(0), normalize(r.getArray(1).toDoubleArray())))
    val bc = sparkContext.broadcast(qRows)
    val k = this.k

    // pass 1: per corpus partition, bounded heap per query
    val partials: RDD[(Long, BoundedTopK)] =
      corpus.execute().mapPartitions { it =>
        val qs = bc.value
        val heaps = qs.map(_ => new BoundedTopK(k))
        it.foreach { row =>
          val cid = row.getLong(0)
          val cvec = normalize(row.getArray(1).toDoubleArray())
          var qi = 0
          while (qi < qs.length) {
            val (qid, qvec) = qs(qi)
            if (cid != qid) {
              var s = 0.0; var i = 0
              val n = math.min(qvec.length, cvec.length)
              while (i < n) { s += qvec(i) * cvec(i); i += 1 }
              // rounded as Spark SQL's round() — exact parity with the
              // declarative vec_topk formulation. NaN sims (NaN input
              // elements) are skipped, not ranked.
              if (!s.isNaN) heaps(qi).offerRounded(s, cid)
            }
            qi += 1
          }
        }
        qs.iterator.zip(heaps.iterator).map { case ((qid, _), h) => (qid, h) }
      }

    // pass 2: merge partials per query (|partitions|·|Q|·k entries — the
    // bounded state a search API contracts for), rank, emit UnsafeRows
    val schema = output
    partials.reduceByKey(_ merge _).mapPartitions { it =>
      val proj = UnsafeProjection.create(schema.map(_.dataType).toArray)
      val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(4)
      it.flatMap { case (qid, h) =>
        Iterator.tabulate(h.size) { i =>
          row.update(0, qid); row.update(1, h.id(i))
          row.update(2, h.score(i)); row.update(3, (i + 1).toLong)
          proj.apply(row).copy().asInstanceOf[InternalRow]
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): CosineTopKExec =
    copy(queries = newLeft, corpus = newRight)
}
