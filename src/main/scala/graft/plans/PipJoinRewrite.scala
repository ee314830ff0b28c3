package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.LongType

import graft.cells.Coverer
import graft.functions.{STCellAncestors, STCellCoverJoin, STContainsPoint}

/** Catalyst rewrite for SQL-level spatial joins (SURVEY §4 "optional
  * sugar"): an inner join whose only cross-side predicate is
  * `st_contains_point(wkb, lon, lat)` has no equi-key, so Spark plans a
  * broadcast-nested-loop / cartesian join — O(pages × polygons) exact
  * refine calls. This rule rewrites it into the engine's own index join
  * (the plan `PipJoin.matches` builds by hand):
  *
  *  - polygon side: `Generate(explode(st_cell_cover_join(wkb)))` — each
  *    polygon row explodes to its pairwise-disjoint cover cells;
  *  - point side: `Generate(explode(st_cell_ancestors(lon, lat, 0, 22)))`
  *    — each point explodes to its ancestor-chain cells;
  *  - the join becomes a hash **equi-join** on the cell id, and the
  *    original `st_contains_point` stays above it as the exact residual.
  *
  * Row-for-row identical to the nested-loop plan it replaces:
  *  - no false negatives — the cover is a guaranteed superset of the
  *    geometry because it is built with EXACT cell/geometry predicates
  *    (Coverer.coverExact: JTS prepared intersects/covers of the cell
  *    rectangle), not the engine index's vertex-approximate ones, which
  *    can prune a subtree a sliver polygon crosses without placing a
  *    vertex in it; degenerate-ring polygons the reference coverer
  *    refuses (lookup.go:183-189) keep their interior matches too;
  *  - no duplicate rows — cover cells of one polygon row are pairwise
  *    disjoint (Coverer.normalize), so a point's ancestor chain meets at
  *    most one of them.
  *
  * The probe explodes the full [0, Coverer.MaxLevel] ancestor chain
  * (23 cells/point), because the rule cannot see cover statistics at
  * optimize time; `PipJoin.matches` narrows the chain to the band its
  * cover table holds.
  *
  * Fires only when no cross-side equality key already exists (the join
  * would otherwise hash-join fine), which also makes the rule idempotent:
  * its own output joins on a cell-id equality.
  */
object PipJoinRewrite extends Rule[LogicalPlan] with PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case j @ Join(left, right, Inner | Cross, Some(cond), _) if !hasCrossSideEquiKey(j) =>
      val conjuncts = splitConjunctivePredicates(cond)
      conjuncts.collectFirst {
        case p @ STContainsPoint(wkb, lon, lat)
            if sidesOf(wkb, lon, lat, left, right).isDefined =>
          (p, sidesOf(wkb, lon, lat, left, right).get)
      } match {
        case Some((contains, polyOnRight)) =>
          rewrite(j, contains, conjuncts.filterNot(_ eq contains), polyOnRight)
        case None => j
      }
  }

  /** Some(true) if wkb comes from the right child and lon/lat from the
    * left, Some(false) for the mirror, None when the predicate does not
    * span the two sides (then it is not a join predicate to index).
    */
  private def sidesOf(wkb: Expression, lon: Expression, lat: Expression,
                      left: LogicalPlan, right: LogicalPlan): Option[Boolean] = {
    val ptRefs = lon.references ++ lat.references
    if (wkb.references.nonEmpty && ptRefs.nonEmpty) {
      if (wkb.references.subsetOf(right.outputSet) && ptRefs.subsetOf(left.outputSet))
        Some(true)
      else if (wkb.references.subsetOf(left.outputSet) && ptRefs.subsetOf(right.outputSet))
        Some(false)
      else None
    } else None
  }

  private def hasCrossSideEquiKey(j: Join): Boolean =
    j.condition.exists(splitConjunctivePredicates(_).exists {
      case EqualTo(a, b) => crossSide(a, b, j.left, j.right)
      case EqualNullSafe(a, b) => crossSide(a, b, j.left, j.right)
      case _ => false
    })

  private def crossSide(a: Expression, b: Expression,
                        left: LogicalPlan, right: LogicalPlan): Boolean =
    a.references.nonEmpty && b.references.nonEmpty &&
      ((a.references.subsetOf(left.outputSet) && b.references.subsetOf(right.outputSet)) ||
        (a.references.subsetOf(right.outputSet) && b.references.subsetOf(left.outputSet)))

  private def rewrite(j: Join, contains: STContainsPoint,
                      others: Seq[Expression], polyOnRight: Boolean): LogicalPlan = {
    val (polySide, ptSide) = if (polyOnRight) (j.right, j.left) else (j.left, j.right)
    val coverCell = AttributeReference("graft$coverCell", LongType, nullable = false)()
    val probeCell = AttributeReference("graft$probeCell", LongType, nullable = false)()

    val polyGen = Generate(
      Explode(STCellCoverJoin(contains.first)),
      unrequiredChildIndex = Nil, outer = false, qualifier = None,
      generatorOutput = Seq(coverCell), child = polySide)
    val ptGen = Generate(
      Explode(STCellAncestors(Seq(contains.second, contains.third,
        Literal(0), Literal(Coverer.MaxLevel)))),
      unrequiredChildIndex = Nil, outer = false, qualifier = None,
      generatorOutput = Seq(probeCell), child = ptSide)

    val (newLeft, newRight) = if (polyOnRight) (ptGen, polyGen) else (polyGen, ptGen)
    val equiJoin = Join(newLeft, newRight, Inner,
      Some(EqualTo(probeCell, coverCell)), j.hint)
    val residual = (contains +: others).reduce(And)
    Project(j.output, Filter(residual, equiJoin))
  }
}
