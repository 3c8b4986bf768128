package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{Inner, LeftOuter}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Declared integrity constraints for [[FkJoinElimination]]: a foreign
  * key WITH referential integrity — `(childPath, childCol)` references
  * `(parentPath, parentCol)`, the parent column is UNIQUE, and every
  * non-null child value has a parent match. Spark tracks no constraints
  * itself; declaration is the caller's truth contract (the gate's oracle
  * actually verifies it: an RI violation in the data would change the
  * eliminated query's result and go red). Paths are scheme-stripped
  * (`Path.toUri.getPath`), like [[MvCatalog]].
  */
object ConstraintCatalog {
  final case class FkRi(
      childPath: String, childCol: String,
      parentPath: String, parentCol: String)

  private val entries =
    java.util.concurrent.ConcurrentHashMap.newKeySet[FkRi]()

  def declare(c: FkRi): Unit = entries.add(c)
  def undeclare(c: FkRi): Unit = entries.remove(c)
  def isEmpty: Boolean = entries.isEmpty
  def forParent(parentPath: String, parentCol: String): Seq[FkRi] = {
    import scala.jdk.CollectionConverters._
    entries.asScala.toSeq
      .filter(c => c.parentPath == parentPath && c.parentCol == parentCol)
  }
}

/** Optimizer rule: ELIMINATE a provably-redundant dimension join — the
  * constraint-driven rewrite every warehouse engine ships and Spark
  * lacks. The canonical victim is view expansion: a canned view joins
  * the fact to its dimensions "so every report can", and a query that
  * uses only fact columns still pays the full dimension scan + join.
  * Under a declared FK-with-RI constraint that join provably cannot
  * change the result, so it should not run.
  *
  * Fires on `Join(fact, dim, Inner|LeftOuter, fact.fk = dim.pk)` when:
  *  - the dim side is a BARE pruned scan of the declared parent whose
  *    only surviving column is the key (ColumnPruning has already run in
  *    the same fixed-point batch: if any other dim column were used
  *    downstream, it would still be in the scan and the rule refuses);
  *    any dim-side Filter also refuses — a filtered dimension changes
  *    which fact rows survive;
  *  - the fact-side join attribute traces by exprId to a scan of the
  *    declared CHILD path (an aliased/computed key refuses — the
  *    constraint was declared on the stored column, not expressions);
  *  - multiplicity is provably 1: parent UNIQUE makes both join types
  *    duplicate-free; RI makes the inner join row-preserving for
  *    non-null keys (a null-guard `Filter(isnotnull(fk))` replaces the
  *    join's null-dropping when the fk column is nullable); LeftOuter
  *    preserves rows unconditionally.
  * The dim key survives in the output as an ALIAS of the fact fk (equal
  * on every surviving row: matched rows by the join condition; a
  * LeftOuter row with null fk pairs null with null under RI), with the
  * original exprId, so parents resolve unchanged.
  *
  * At 100 TB the eliminated join is a broadcast build of the WHOLE
  * dimension (or worse, a shuffle) plus its scan — removed entirely;
  * the plan left behind is the bare fact scan. Injected via
  * [[graft.GraftExtensions]] beside [[MvRollupRewrite]]; like the MV
  * catalog, constraint declaration/freshness is the registrar's
  * contract.
  */
object FkJoinElimination extends Rule[LogicalPlan] {

  private def scanPath(lr: LogicalRelation): Option[String] =
    lr.relation match {
      case fs: HadoopFsRelation =>
        fs.location.rootPaths.map(_.toUri.getPath) match {
          case Seq(p) => Some(p)
          case _ => None
        }
      case _ => None
    }

  /** The dim side must be exactly a pruned bare scan: Project-of-attrs
    * over the relation (or the bare relation), nothing else.
    */
  private def bareScan(p: LogicalPlan): Option[LogicalRelation] = p match {
    case Project(pl, lr: LogicalRelation)
        if pl.forall(_.isInstanceOf[AttributeReference]) => Some(lr)
    case lr: LogicalRelation => Some(lr)
    case _ => None
  }

  /** Does `attr` originate (same exprId) from a scan of `path` inside
    * this subtree?
    */
  private def originatesFrom(sub: LogicalPlan, attr: Attribute, path: String): Boolean =
    sub.collectFirst {
      case lr: LogicalRelation
          if scanPath(lr).contains(path) && lr.output.exists(_.exprId == attr.exprId) =>
        true
    }.getOrElse(false)

  private def tryEliminate(
      fact: LogicalPlan, dim: LogicalPlan, dimOnLeft: Boolean,
      joinType: org.apache.spark.sql.catalyst.plans.JoinType,
      cond: Expression): Option[LogicalPlan] = for {
    dimRel <- bareScan(dim)
    dimPath <- scanPath(dimRel)
    // the join key attrs, sorted into (fact side, dim side)
    (fkAttr, pkAttr) <- cond match {
      case EqualTo(a: AttributeReference, b: AttributeReference) =>
        if (dim.outputSet.contains(b) && fact.outputSet.contains(a)) Some((a, b))
        else if (dim.outputSet.contains(a) && fact.outputSet.contains(b)) Some((b, a))
        else None
      case _ => None
    }
    // the key must be the dim's ONLY surviving column
    if dim.output == Seq(pkAttr)
    _ <- ConstraintCatalog.forParent(dimPath, pkAttr.name)
      .find(c => c.childCol == fkAttr.name && originatesFrom(fact, fkAttr, c.childPath))
  } yield {
    val guarded =
      if (joinType == Inner && fkAttr.nullable) Filter(IsNotNull(fkAttr), fact)
      else fact
    val pkAsFk = Alias(fkAttr, pkAttr.name)(exprId = pkAttr.exprId)
    val out: Seq[NamedExpression] =
      if (dimOnLeft) pkAsFk +: fact.output
      else fact.output :+ pkAsFk
    Project(out, guarded)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (ConstraintCatalog.isEmpty) return plan
    plan.transformUp {
      case j @ Join(left, right, jt @ (Inner | LeftOuter), Some(cond), _) =>
        val viaRight = tryEliminate(left, right, dimOnLeft = false, jt, cond)
        // dim on the LEFT of a LeftOuter preserves the DIM side, not the
        // fact side — only Inner is shape-symmetric
        val viaLeft =
          if (jt == Inner) tryEliminate(right, left, dimOnLeft = true, jt, cond)
          else None
        viaRight.orElse(viaLeft).getOrElse(j)
    }
  }
}
