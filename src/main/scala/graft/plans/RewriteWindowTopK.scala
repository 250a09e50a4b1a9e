package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{IntegerType, LongType}

import graft.functions.RowTopKAgg

/** Optimizer rule: rewrite the rank-window top-k idiom
  *
  *   SELECT ... FROM (SELECT ...,
  *     row_number() OVER (PARTITION BY g ORDER BY s) AS rn FROM t) _
  *   WHERE rn <= k
  *
  * into the bounded-state aggregate `graft_topk_rows` + posexplode —
  * UNCHANGED SQL, engine-level win: the window form shuffles the FULL
  * candidate stream and sorts every group (WindowGroupLimit bounds
  * the per-partition buffer but the exchange still carries every
  * surviving row and the reducer still sorts); the aggregate's
  * map-side partials keep ≤ k rows per group per partition and merge
  * pairwise, so the exchange carries O(groups·k) and nothing ever
  * sorts more than 4k records. At 100 TB candidate generation (every
  * ANN refine emits |Q|·probe·rows candidates) that is the difference
  * between a bounded exchange and a sort of the whole stream.
  *
  * Rewrite shape:
  *
  *   Filter(residual?)                 ← conjuncts not subsumed by k
  *     Project(child cols*, pos+1 AS rn)   ← original exprIds kept
  *       Generate(posexplode(topk))
  *         Aggregate(g, graft_topk_rows(child cols, orderSpec, k))
  *
  * Fires only when: the window computes exactly ONE expression and it
  * is row_number() with the default running frame; every conjunct
  * mentioning rn is `rn <= lit` / `rn < lit` (or reversed); k ≤
  * spark.graft.topkRewrite.maxK (default 100 — the aggregate buffers
  * k rows per group, so a huge k belongs to the window form); the
  * partition/order expressions are deterministic; and the plan is not
  * streaming (stateful semantics differ). Tie behavior matches
  * row_number's own arbitrary-among-ties class — deterministic
  * whenever the ordering is total, exactly like the window.
  */
object RewriteWindowTopK extends Rule[LogicalPlan] with PredicateHelper {

  private val MaxKConf = "spark.graft.topkRewrite.maxK"

  /** The largest k the rewrite fires for; a malformed setting throws
    * instead of reading as the default. */
  private def maxK: Int = {
    val v = conf.getConfString(MaxKConf, "100")
    v.trim.toIntOption.getOrElse(
      throw new IllegalArgumentException(s"$MaxKConf must be an integer, got '$v'"))
  }

  /** rn-limit from one conjunct: Some((k, subsumed)) when the conjunct
    * bounds rn from above; None when it doesn't mention rn; bail marker
    * (k = -1) when it mentions rn any other way. */
  private def limitOf(c: Expression, rn: Attribute): Option[(Int, Boolean)] = {
    def lit(e: Expression): Option[Int] = e match {
      case Literal(v: Int, IntegerType) => Some(v)
      case Literal(v: Long, LongType) if v <= Int.MaxValue => Some(v.toInt)
      case _ => None
    }
    c match {
      case LessThanOrEqual(a: Attribute, l) if a.semanticEquals(rn) =>
        lit(l).map(k => (k, true)).orElse(Some((-1, false)))
      case LessThan(a: Attribute, l) if a.semanticEquals(rn) =>
        lit(l).map(k => (k - 1, true)).orElse(Some((-1, false)))
      case GreaterThanOrEqual(l, a: Attribute) if a.semanticEquals(rn) =>
        lit(l).map(k => (k, true)).orElse(Some((-1, false)))
      case GreaterThan(l, a: Attribute) if a.semanticEquals(rn) =>
        lit(l).map(k => (k - 1, true)).orElse(Some((-1, false)))
      case EqualTo(a: Attribute, l) if a.semanticEquals(rn) =>
        lit(l).map(k => (k, false)).orElse(Some((-1, false)))
      case EqualTo(l, a: Attribute) if a.semanticEquals(rn) =>
        lit(l).map(k => (k, false)).orElse(Some((-1, false)))
      case other if other.references.contains(rn) => Some((-1, false))
      case _ => None
    }
  }

  private def isRowNumberSpec(e: NamedExpression): Boolean = e match {
    case Alias(WindowExpression(_: RowNumber,
      WindowSpecDefinition(_, _,
        SpecifiedWindowFrame(RowFrame, UnboundedPreceding, CurrentRow))), _) => true
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond,
        w @ Window(Seq(we), partSpec, orderSpec, wchild, _))
        if isRowNumberSpec(we) && orderSpec.nonEmpty &&
          orderSpec.forall(_.deterministic) && partSpec.forall(_.deterministic) &&
          !f.isStreaming =>
      val rn = we.toAttribute
      // InferWindowGroupLimit may already have inserted its node for
      // this window; the aggregate subsumes it
      val child = wchild match {
        case WindowGroupLimit(p, o, _, _, c)
          if p == partSpec && o == orderSpec => c
        case c => c
      }
      val conjuncts = splitConjunctivePredicates(cond)
      val limits = conjuncts.map(c => c -> limitOf(c, rn))
      val bounds = limits.flatMap(_._2)
      if (child.output.isEmpty || bounds.isEmpty || bounds.exists(_._1 < 1) ||
          bounds.map(_._1).min > maxK) f
      else {
        val k = bounds.map(_._1).min
        val residual = limits.collect {
          case (c, None) => c
          case (c, Some((_, false))) => c
          case (c, Some((kk, true))) if kk != k => c
        }
        val agg = {
          val fn = RowTopKAgg(child.output, orderSpec, k)
          Aggregate(partSpec,
            Seq(Alias(AggregateExpression(fn, Complete, isDistinct = false),
              "_graft_topk")()),
            child)
        }
        val topk = agg.aggregateExpressions.head.toAttribute
        // posexplode of array<struct> yields (pos int, col struct);
        // the struct then projects back to the child's columns
        val elemType = topk.dataType.asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType
        val pos = AttributeReference("_graft_pos", IntegerType, nullable = false)()
        val rowA = AttributeReference("_graft_row", elemType, nullable = false)()
        val gen = Generate(PosExplode(topk), unrequiredChildIndex = Seq(0),
          outer = false, qualifier = None, generatorOutput = Seq(pos, rowA), agg)
        // restore the original exprIds so everything above the filter
        // still resolves; rn = pos + 1 under the window's own exprId
        val restored = child.output.zipWithIndex.map { case (orig, i) =>
          Alias(GetStructField(rowA, i, Some(orig.name)), orig.name)(exprId = orig.exprId)
        }
        val rnOut = Alias(Add(pos, Literal(1)), rn.name)(exprId = rn.exprId)
        val proj = Project(restored :+ rnOut, gen)
        if (residual.isEmpty) proj
        else Filter(residual.reduce(And), proj)
      }
  }
}
