package graft.spark

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}

import graft.h3.H3

/** Builds and matches one registered H3 kernel call by its SQL name, so the
  * rule's patterns read like the functions they rewrite. */
private[spark] sealed class H3Call(name: String) {
  private lazy val build = H3Functions.all.find(_._1 == name).get._2
  def apply(args: Expression*): Expression = build(args)
  def unapplySeq(e: Expression): Option[Seq[Expression]] = e match {
    case k: KernelCall if k.name == name => Some(k.children)
    case _ => None
  }
}
private[spark] object CellToParent extends H3Call("h3_cell_to_parent")
private[spark] object CellResolution extends H3Call("h3_get_resolution")
private[spark] object LatLngToCell extends H3Call("h3_latlng_to_cell")

/** H3-aware algebraic rewrites.
  *
  * - parent-of-parent collapse: `h3_cell_to_parent(h3_cell_to_parent(c, r1), r2)`
  *   with literal r2 <= r1 is `h3_cell_to_parent(c, r2)` — naive tile
  *   pyramids written against the base cell column lose a kernel call per
  *   level without this.
  * - resolution-of-index shortcut: `h3_get_resolution(h3_latlng_to_cell(_, _, r))`
  *   is `r` for a literal in-range r (the projection is then pruned away
  *   entirely if the cell isn't otherwise used). Nullability is preserved:
  *   the shortcut only fires when the inputs are non-nullable.
  */
object H3OptimizerRule extends Rule[LogicalPlan] {

  /** All descendants of `parent` (at any finer resolution) have raw index
    * values inside [parent, maxDescendant]: the prefix bits are shared, the
    * resolution nibble grows with depth, and free digits/unused bits only
    * increase the value up to the all-6/all-1 pattern at res 15. */
  private def maxDescendant(parent: Long): Long = {
    val r = H3.getResolution(parent)
    var bits = H3.setResolution(parent, 15)
    var rr = r + 1
    while (rr <= 15) { bits = H3.setDirection(bits, rr, 6); rr += 1 }
    bits
  }

  /** Derives parquet-pushable range conjuncts from prefix-equality
    * predicates: `h3_cell_to_parent(cell, r) = P` implies
    * `cell BETWEEN P AND maxDescendant(P)`, which min/max row-group stats
    * and partition pruning can use even though the H3 call itself cannot
    * be pushed into the scan. */
  private def rangeConjuncts(cond: Expression): Seq[Expression] = {
    val conjuncts = splitConjunctivePredicates(cond)
    val extra = conjuncts.flatMap {
      case EqualTo(CellToParent(cell: Attribute, Literal(_: Int, IntegerType)),
                   Literal(p: Long, LongType)) =>
        Seq(GreaterThanOrEqual(cell, Literal(p, LongType)),
          LessThanOrEqual(cell, Literal(maxDescendant(p), LongType)))
      case EqualTo(Literal(p: Long, LongType),
                   CellToParent(cell: Attribute, Literal(_: Int, IntegerType))) =>
        Seq(GreaterThanOrEqual(cell, Literal(p, LongType)),
          LessThanOrEqual(cell, Literal(maxDescendant(p), LongType)))
      case _ => Nil
    }
    // Idempotence: only conjuncts not already present.
    extra.filterNot(e => conjuncts.exists(_.semanticEquals(e)))
  }

  private def splitConjunctivePredicates(condition: Expression): Seq[Expression] =
    condition match {
      case And(left, right) =>
        splitConjunctivePredicates(left) ++ splitConjunctivePredicates(right)
      case other => other :: Nil
    }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val withRanges = plan.transform {
      case f @ Filter(cond, child) =>
        val extra = rangeConjuncts(cond)
        if (extra.isEmpty) f
        else Filter(extra.foldLeft(cond)(And(_, _)), child)
    }
    withRanges.transformAllExpressions {
      // Parent-of-parent collapse, null-preserving: the inner call returns
      // NULL when r1 exceeds the cell's own resolution, so the collapsed
      // form keeps that check (a cheap bit op instead of a full parent
      // computation).
      case CellToParent(CellToParent(cell, Literal(r1: Int, IntegerType)),
                        outer @ Literal(r2: Int, IntegerType))
          if r2 <= r1 && r2 >= 0 =>
        If(GreaterThan(Literal(r1, IntegerType), CellResolution(cell)),
          Literal(null, LongType), CellToParent(cell, outer))

      // Resolution-of-index shortcut, null-preserving: LatLngToCell is NULL
      // exactly when lat/lng are non-finite (NaN/Inf) for an in-range
      // literal res; `x - x = 0.0` is true iff x is finite, and evaluates
      // to NULL/false for NULL inputs, so the If falls through to NULL.
      case CellResolution(LatLngToCell(lat, lng, Literal(r: Int, IntegerType)))
          if r >= 0 && r <= 15 =>
        val finite = And(
          EqualTo(Subtract(lat, lat), Literal(0.0, DoubleType)),
          EqualTo(Subtract(lng, lng), Literal(0.0, DoubleType)))
        If(finite, Literal(r, IntegerType), Literal(null, IntegerType))
    }
  }
}
