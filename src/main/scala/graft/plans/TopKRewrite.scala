package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute, AttributeReference, CurrentRow, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual, Literal, PredicateHelper, RowFrame, RowNumber, SortOrder, SpecifiedWindowFrame, UnboundedPreceding, WindowExpression, WindowSpecDefinition}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Window, WindowGroupLimit}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.IntegerType

/** Optimizer rule: rewrite the canonical window top-k pattern
  *
  * {{{ Filter(rank <= k, Window(row_number() OVER (PARTITION BY g ORDER BY o) AS rank, child)) }}}
  *
  * into the native [[TopKPerGroup]] node, so the declarative form users
  * actually write gets the bounded-heap physical operator instead of
  * Exchange → full Sort → Window → Filter. This is the [[Rule]] tier of
  * the Catalyst extension ladder: [[graft.ops.Relational.topKPerGroup]]
  * is the API graft's own code calls; this rule is the SQL surface for
  * sessions that install it. graft's own sessions do not, so window code
  * written by hand keeps its window plan there.
  *
  * Spark 3.5+ partially covers this with `InferWindowGroupLimit`, which
  * inserts map-/reduce-side group-limit passes but still fully sorts the
  * surviving rows in `WindowExec`. This rewrite removes the sort + window
  * machinery outright (rank assignment falls out of the heap drain). When
  * the pattern has already been decorated with a [[WindowGroupLimit]]
  * child (rule-order differences between injected and experimental
  * batches), the limit node is subsumed and stripped.
  *
  * Safety conditions, all required before the rewrite fires:
  *  - the Window computes EXACTLY one expression: `row_number()` with the
  *    standard (UnboundedPreceding, CurrentRow) row frame — rewriting a
  *    multi-expression window would drop the other columns;
  *  - the partition spec is non-empty — the global-rank form belongs to a
  *    distributed sort-limit, not a per-group heap;
  *  - at least one conjunct of the Filter bounds the rank attribute by a
  *    positive integer literal (`rank <= k`, `rank < k`, `rank = k`, or
  *    the mirrored literal-first forms). The tightest bound becomes the
  *    heap's k; every conjunct NOT implied by `rank ∈ [1, k]` — other
  *    predicates, or an equality above 1 — stays as a residual Filter
  *    ABOVE the node. That residual filtering is sound because the heap
  *    emits exact `row_number` values for the top k rows, so any
  *    predicate over them evaluates identically to the window form.
  *
  * The replacement preserves the Window node's output attributes (child
  * output + the rank alias's exprId), so parent operators resolve
  * unchanged.
  */
object TopKRewrite extends Rule[LogicalPlan] with PredicateHelper {

  /** Per-session/per-query kill switch (`SET spark.graft.topkRewrite
    * .enabled=false`): the heap exec keeps O(k × groups/partition) rows
    * with NO spill, so for pathologically high-cardinality group keys
    * the window form's spilling SortExec is the safer plan — and with
    * the rule installed session-wide, that form would otherwise be
    * unreachable (the rule rewrites exactly it).
    */
  val EnabledKey = "spark.graft.topkRewrite.enabled"

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!conf.getConfString(EnabledKey, "true").toBoolean) plan
    else plan.transform {
      case f @ Filter(cond, w: Window) =>
        rewrite(cond, w).getOrElse(f)
    }

  /** A rank bound carried by one conjunct: `k` is the implied inclusive
    * upper bound; `absorbed` says the conjunct is EQUIVALENT to
    * `rank <= k` (and so disappears once the heap enforces it) rather
    * than merely implying the bound (equality above 1, which must stay
    * in the residual).
    */
  private case class Bound(k: Int, absorbed: Boolean)

  private def rewrite(cond: Expression, w: Window): Option[LogicalPlan] =
    w.windowExpressions match {
      case Seq(alias @ Alias(WindowExpression(RowNumber(),
            WindowSpecDefinition(parts, order,
              SpecifiedWindowFrame(RowFrame, UnboundedPreceding, CurrentRow))), _))
          if parts.nonEmpty && order.nonEmpty =>
        val rank = alias.toAttribute
        val conjuncts = splitConjunctivePredicates(cond)
        val bounds = conjuncts.map(c => c -> boundOf(c, rank))
        val ks = bounds.collect { case (_, Some(b)) => b.k }
        ks.minOption.filter(_ > 0).map { k =>
          // A WindowGroupLimit inserted by InferWindowGroupLimit is
          // subsumed by the heap exec — strip it so rows aren't
          // rank-pruned twice.
          val child = w.child match {
            case wgl: WindowGroupLimit => wgl.child
            case c => c
          }
          val topk = TopKPerGroup(parts, order, k,
            rank.asInstanceOf[AttributeReference], child)
          // keep every conjunct not implied by rank ∈ [1, k]: non-bound
          // predicates always; bound conjuncts only when not absorbed
          // (equality above 1) — an absorbed bound ≥ k is implied by the
          // tighter k the heap enforces
          val residual = bounds.collect {
            case (c, None) => c
            case (c, Some(b)) if !(b.absorbed && b.k >= k) => c
          }
          if (residual.isEmpty) topk
          else Filter(residual.reduce(And), topk)
        }
      case _ => None
    }

  /** The inclusive rank bound one conjunct implies, if any. */
  private def boundOf(c: Expression, rank: Attribute): Option[Bound] = {
    def lit(e: Expression): Option[Int] = e match {
      case Literal(v: Int, IntegerType) => Some(v)
      case _ => None
    }
    c match {
      case LessThanOrEqual(a, l) if a.semanticEquals(rank) =>
        lit(l).map(Bound(_, absorbed = true))
      // Int.MinValue - 1 would wrap to a huge positive k and turn an
      // always-false filter into emit-everything; such a literal keeps
      // the window form (where the filter correctly yields nothing)
      case LessThan(a, l) if a.semanticEquals(rank) =>
        lit(l).filter(_ != Int.MinValue).map(v => Bound(v - 1, absorbed = true))
      case GreaterThanOrEqual(l, a) if a.semanticEquals(rank) =>
        lit(l).map(Bound(_, absorbed = true))
      case GreaterThan(l, a) if a.semanticEquals(rank) =>
        lit(l).filter(_ != Int.MinValue).map(v => Bound(v - 1, absorbed = true))
      case EqualTo(a, l) if a.semanticEquals(rank) =>
        lit(l).map(v => Bound(v, absorbed = v == 1))
      case EqualTo(l, a) if a.semanticEquals(rank) =>
        lit(l).map(v => Bound(v, absorbed = v == 1))
      case _ => None
    }
  }

  /** Install on a live session (idempotent): the rule joins the
    * experimental batch and the strategy must be present for the node to
    * plan. Cluster submission gets both from
    * `spark.sql.extensions=graft.GraftExtensions`.
    */
  def install(spark: SparkSession): Unit = {
    TopKPerGroupStrategy.setup(spark)
    if (!spark.experimental.extraOptimizations.contains(TopKRewrite))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ TopKRewrite
  }
}
