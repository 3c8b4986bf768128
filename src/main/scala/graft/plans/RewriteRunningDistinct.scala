package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, CollectSet, Complete, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, Window}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.IntegerType

/** Optimizer rule: plan the natural "running COUNT DISTINCT" spelling
  * scalably.
  *
  * Analysts write
  * {{{ size(collect_set(x)) OVER (PARTITION BY p ORDER BY o
  *     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) }}}
  * because SQL refuses `COUNT(DISTINCT) OVER (ORDER BY ...)`. Spark
  * executes that spelling with a per-row SET in window state — O(distinct
  * values) memory per key and a serialized array materialized per row,
  * which at corpus scale turns the window operator into the job's memory
  * bound. The equivalent two-window plan carries O(1) state per row:
  * flag each row's FIRST occurrence of (p, x) with one row_number, then
  * take a running SUM of the flag over (p ORDER BY o). `SetOps.
  * runningDistinct` writes that plan by hand; this rule makes the engine
  * produce it from the naive spelling, so callers don't have to know the
  * trick.
  *
  * Rewrite (exact, not approximate):
  * {{{
  * Project[..., size(cs#1) ...]            Project[..., cast(rd#4 as int)]
  *   Window[cs#1 = collect_set(x) OVER       Window[rd#4 = sum(f#3) OVER
  *          (p ORDER BY o ROWS UNB..CUR)]           (p ORDER BY o ROWS UNB..CUR)]
  *     child                         ==>       Project[child.*, f#3 = if(x is null, 0,
  *                                                     if(rn#2 = 1, 1, 0))]
  *                                               Window[rn#2 = row_number() OVER
  *                                                      (p, x ORDER BY o)]
  *                                                 child
  * }}}
  * Equivalence: under a total per-partition order the set at row i
  * contains exactly the non-null x values whose first occurrence is at
  * or before i, so |set| equals the count of first-occurrence flags —
  * including collect_set's drop-NULLs semantics (the flag is 0 on null
  * x) and size's IntegerType (the Long sum is cast back). When the
  * user's ORDER BY has ties the rewrite stays in-contract by appending
  * ONE materialized tiebreak id to both windows' orderings (see the
  * inline comment): the result is then some valid tie-resolution of the
  * naive spelling — which is itself tie-order-dependent — and never the
  * out-of-range 0 that two independently-sorted windows could produce.
  * Fires only on the running ROWS frame with a non-empty ORDER BY and no
  * aggregate FILTER clause; whole-frame/unordered collect_set (a genuine
  * set request) is untouched, as is any other use of the array besides
  * `size`.
  *
  * Scale: the naive plan's window state is the distinct set per key —
  * unbounded, data-dependent, spilled per row; the rewritten plan adds
  * one extra hash exchange on (p, x) but every operator state is a
  * counter. At 100 TB that trade is the difference between a window that
  * runs and one that OOMs on high-cardinality x. Injected via
  * [[graft.GraftExtensions]] next to [[CollapseNfc]] — the Rule rung of
  * the extension ladder operating on whole plan topology rather than a
  * single expression tree.
  */
object RewriteRunningDistinct extends Rule[LogicalPlan] {

  private val runningFrame =
    SpecifiedWindowFrame(RowFrame, UnboundedPreceding, CurrentRow)

  private def isRunningCollectSet(e: Expression): Boolean = e match {
    // the whole-expression determinism check (not just the collect_set
    // child) guards the partition keys and order keys too: the rewrite
    // re-evaluates x independently in the row_number spec, the first-seen
    // flag, and the surviving projections, so a nondeterministic input
    // (rand() etc.) could disagree across those evaluations and silently
    // change results vs the naive spelling, which evaluates x once per row
    case we @ WindowExpression(
        AggregateExpression(_: CollectSet, _, _, None, _),
        WindowSpecDefinition(_, orderSpec, `runningFrame`)) =>
      orderSpec.nonEmpty && we.deterministic
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case p @ Project(plist, Window(wexprs, part, order, child, hint))
        if order.nonEmpty && wexprs.exists {
          case Alias(e, _) => isRunningCollectSet(e); case _ => false
        } =>
      // only rewrite aliases whose EVERY parent use is size(attr) — and at
      // least one such use exists. A query that also selects the array
      // itself still needs the real set; anything not rewritten stays in
      // the surviving Window node untouched.
      def onlyViaSize(e: Expression, id: ExprId): Boolean = e match {
        case Size(ar: AttributeReference, _) if ar.exprId == id => true
        case ar: AttributeReference if ar.exprId == id          => false
        case _ => e.children.forall(onlyViaSize(_, id))
      }
      def sizeUseCount(e: Expression, id: ExprId): Int = e.collect {
        case Size(ar: AttributeReference, _) if ar.exprId == id => ()
      }.size
      val sizeOnly = wexprs.collect {
        case a @ Alias(e, _)
            if isRunningCollectSet(e) &&
              plist.forall(onlyViaSize(_, a.exprId)) &&
              plist.map(sizeUseCount(_, a.exprId)).sum > 0 => a
      }
      val keep = wexprs.filterNot(e => sizeOnly.exists(_.exprId == e.exprId))
      if (sizeOnly.isEmpty) p
      else {
        // The two windows sort INDEPENDENTLY, so under ORDER BY ties they
        // could resolve differently — the flagged first-seen row might
        // sort AFTER the current row in the sum window, yielding 0 for a
        // row whose own value the original set always contains. One
        // materialized tiebreak id appended to BOTH orderings makes a
        // single total comparator drive the whole rewrite: restricted to
        // any (p, x) subset it is the same relation, so the first-seen
        // row always sorts at-or-before every row it covers and the
        // result is a valid tie-resolution of the naive spelling (which
        // is itself tie-order-dependent), never out of range.
        val rid = Alias(MonotonicallyIncreasingID(), "__graft_rid")()
        var bottom: LogicalPlan = Project(child.output :+ rid, child)
        val ridOrder = SortOrder(rid.toAttribute, Ascending)
        val replacements = sizeOnly.map { a =>
          val (x, spec) = a.child match {
            case WindowExpression(AggregateExpression(cs: CollectSet, _, _, _, _), s) =>
              (cs.child, s)
          }
          val rn = Alias(
            WindowExpression(RowNumber(),
              WindowSpecDefinition(spec.partitionSpec :+ x,
                spec.orderSpec :+ ridOrder, runningFrame)),
            "__graft_rn")()
          val win1 = Window(Seq(rn), spec.partitionSpec :+ x,
            spec.orderSpec :+ ridOrder, bottom, hint)
          val flag = Alias(
            If(IsNull(x), Literal(0L),
              If(EqualTo(rn.toAttribute, Literal(1)), Literal(1L), Literal(0L))),
            "__graft_first_seen")()
          val proj = Project(win1.child.output :+ flag, win1)
          val run = Alias(
            WindowExpression(
              AggregateExpression(Sum(flag.toAttribute), Complete, isDistinct = false,
                None, NamedExpression.newExprId),
              WindowSpecDefinition(spec.partitionSpec,
                spec.orderSpec :+ ridOrder, runningFrame)),
            a.name)()
          bottom = Window(Seq(run), spec.partitionSpec,
            spec.orderSpec :+ ridOrder, proj, hint)
          a.exprId -> run.toAttribute
        }.toMap
        val rewrittenKeep =
          if (keep.isEmpty) bottom else Window(keep, part, order, bottom, hint)
        val newList = plist.map(_.transform {
          case Size(ar: AttributeReference, _) if replacements.contains(ar.exprId) =>
            // coalesce restores the original Size attribute's non-nullable
            // metadata: the running SUM is nullable by type even though a
            // >=1-row frame never yields null, and the alias keeps its
            // exprId, so downstream nullability must match the producer
            Cast(Coalesce(Seq(replacements(ar.exprId), Literal(0L))), IntegerType)
        }.asInstanceOf[NamedExpression])
        Project(newList, rewrittenKeep)
      }
  }
}
