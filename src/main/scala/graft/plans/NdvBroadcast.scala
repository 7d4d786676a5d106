package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, BROADCAST, Filter, HintInfo, Join, LogicalPlan, Project, SubqueryAlias}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

/** CARDINALITY-AWARE broadcast planning from sidecar NDV sketches.
  *
  * Spark sizes a join side for broadcast from BYTES — and estimates an
  * Aggregate's size from its CHILD's bytes, so "aggregate a big table by
  * a low-cardinality key, then join" never broadcasts even though the
  * aggregate's true output is NDV(keys) rows. The scan bytes say 100 GB;
  * the distinct-key sketch says 40 rows. This rule trusts the sketch:
  *
  *   Join(..., Aggregate(groupKeys ⊆ graft-jsonl columns with `_ndv`
  *   sidecar sketches, ...), ...)  →  same Join with a BROADCAST hint on
  *   that side, iff  Π NDV(groupKey) × output row width ≤ 8 MiB.
  *
  * Π NDV over the grouping keys is an UPPER bound on the aggregate's
  * output rows (joint distinct ≤ product of marginals), and the merged
  * sketch OVERSTATES per-key NDV on tables with live delete vectors —
  * both errors point the safe way: a hint is only ever added when the
  * true build side is at most the estimate. Coverage-gated like every
  * sidecar decision: any live file without a sketch for a key makes
  * [[graft.sources.JsonlNdv.mergedNdv]] return None and the rule no-op.
  *
  * This is exactly what engines with real CBO do with NDV column stats
  * (and Iceberg with its Puffin theta sketches); the sketch lives in the
  * commit-published sidecar, so the statistic is maintained by the WRITE
  * path and is already merged — no ANALYZE TABLE pass over 100 TB.
  *
  * The hint lands directly in the Join's JoinHint (idempotent: sides
  * that already carry any hint are left alone), so AQE and the join
  * strategy selection consume it through the standard channel. */
object NdvBroadcastRule extends Rule[LogicalPlan] {

  private val thresholdBytes: Long = 8L << 20

  /** Resolve `attr` down through Project/Filter/SubqueryAlias to a
    * graft-jsonl relation column: (table dir, column name). A Filter
    * below only SHRINKS the true NDV — still the safe direction. */
  private[plans] def rootOf(plan: LogicalPlan,
      attr: Attribute): Option[(String, String)] = rootColumn(plan, attr)

  @annotation.tailrec
  private def rootColumn(plan: LogicalPlan,
      attr: Attribute): Option[(String, String)] = plan match {
    case p: Project =>
      p.projectList.find(_.exprId == attr.exprId) match {
        case Some(a: AttributeReference) => rootColumn(p.child, a)
        case Some(Alias(a: AttributeReference, _)) => rootColumn(p.child, a)
        case _ => None
      }
    case f: Filter => rootColumn(f.child, attr)
    case s: SubqueryAlias => rootColumn(s.child, attr)
    case r: DataSourceV2Relation => r.table match {
      case t: graft.sources.JsonlTable
          if !t.isPinnedRead && r.output.exists(_.exprId == attr.exprId) =>
        Some((t.dir, attr.name))
      case _ => None
    }
    case _ => None
  }

  /** Sketch-proven output bytes of an aggregate side, when every
    * grouping key roots at a sketched graft-jsonl column.
    *
    * Width is BOUNDED, never estimated: grouping keys use the sidecar's
    * merged max value byte length (the sketch carries it), fixed-width
    * primitive aggregate outputs use their true size, and ANY other
    * output type — strings aggregated from unsketched columns,
    * collect_list arrays, maps, structs — disqualifies the side
    * entirely. `defaultSize` fiction here (20 bytes for a string that is
    * really a multi-MB document, a constant for an unbounded array)
    * would prove a GB-scale build side "tiny" and OOM the executors on
    * the broadcast byte-sizing would have refused. */
  private def provenBytes(side: LogicalPlan): Option[Long] = side match {
    case Aggregate(groupExprs, _, child, _) if groupExprs.nonEmpty &&
        groupExprs.forall(_.isInstanceOf[Attribute]) =>
      val groupAttrs = groupExprs.map(_.asInstanceOf[Attribute])
      val ndvs = groupAttrs.map(a =>
        a.exprId -> rootColumn(child, a).flatMap { case (dir, col) =>
          graft.sources.JsonlNdv.mergedNdv(dir, col)
        }).toMap
      if (ndvs.valuesIterator.exists(_.isEmpty)) None
      else {
        import org.apache.spark.sql.types._
        val widths = side.output.map { a =>
          ndvs.get(a.exprId).flatten match {
            case Some(c) => Some(c.maxLen + 8L) // sketched grouping key
            case None => a.dataType match {
              case _: NumericType | BooleanType | DateType | TimestampType |
                   TimestampNTZType => Some(a.dataType.defaultSize + 8L)
              case _ => None // variable-width aggregate output: refuse
            }
          }
        }
        if (widths.exists(_.isEmpty)) None
        else {
          val rows = ndvs.valuesIterator.flatten.map(_.estimate).product
          val bytes = math.ceil(rows * widths.flatten.sum).toLong
          if (bytes >= 0 && bytes <= thresholdBytes) Some(bytes) else None
        }
      }
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case j @ Join(left, right, _, _, hint)
        if hint.leftHint.isEmpty && hint.rightHint.isEmpty =>
      (provenBytes(left), provenBytes(right)) match {
        case (Some(lb), Some(rb)) =>
          if (lb <= rb)
            j.copy(hint = hint.copy(leftHint =
              Some(HintInfo(strategy = Some(BROADCAST)))))
          else
            j.copy(hint = hint.copy(rightHint =
              Some(HintInfo(strategy = Some(BROADCAST)))))
        case (Some(_), None) =>
          j.copy(hint = hint.copy(leftHint =
            Some(HintInfo(strategy = Some(BROADCAST)))))
        case (None, Some(_)) =>
          j.copy(hint = hint.copy(rightHint =
            Some(HintInfo(strategy = Some(BROADCAST)))))
        case _ => j
      }
  }
}

/** NDV-DRIVEN MULTI-WAY JOIN REORDERING — the second consumer of the
  * sidecar sketches: where [[NdvBroadcastRule]] picks a join's BUILD
  * side, this rule picks the join ORDER of a 3+-way chain, the decision
  * with the largest cost spread at 100 TB (a mis-ordered star can
  * materialize a fact×fact-scale intermediate that the right order never
  * creates).
  *
  * Pattern: `(A ⋈ B) ⋈ C`, all-INNER all-equi, where the outer condition
  * touches only A and C — then `(A ⋈ C) ⋈ B` is condition-for-condition
  * legal, and the rule flips to it exactly when the sketches PROVE the
  * A⋈C intermediate smaller:
  *
  *   |R ⋈ S|  =  |R| · |S| / Π max(ndv(R.kᵢ), ndv(S.kᵢ))
  *
  * — the textbook containment estimate, with EXACT row counts from the
  * stats sidecars (coverage-gated: every live file must carry a row
  * count) and per-key NDV from the merged HLL sketches (coverage-gated
  * the same way; see [[graft.sources.JsonlNdv]]). No estimate, no
  * reorder — the rule refuses rather than guesses, the same discipline
  * as the broadcast rule. Fixed-point-safe: the flip requires STRICTLY
  * smaller, so the flipped plan never flips back. A Project restores the
  * original output column order (reordering must be invisible above the
  * join, Spark's own CBO reorder does the same).
  *
  * Applied bottom-up, a left-deep k-way chain bubbles the provably
  * smallest intermediates to the front pairwise — the greedy linear-order
  * heuristic real CBOs use below their DP threshold. */
object NdvJoinReorderRule extends Rule[LogicalPlan] {

  import org.apache.spark.sql.catalyst.expressions.{And, EqualTo, Expression}
  import org.apache.spark.sql.catalyst.plans.Inner
  import org.apache.spark.sql.catalyst.plans.logical.JoinHint

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case other     => Seq(other)
  }

  /** Exact row count of a side from its stats sidecars — every live data
    * file must carry one (Project/SubqueryAlias are transparent; a
    * Filter makes the count an upper bound of UNKNOWN tightness, which
    * could bias the two candidates differently, so it disqualifies). */
  private def exactRows(plan: LogicalPlan): Option[Double] = plan match {
    case p: Project       => exactRows(p.child)
    case s: SubqueryAlias => exactRows(s.child)
    case r: DataSourceV2Relation => r.table match {
      case t: graft.sources.JsonlTable if !t.isPinnedRead =>
        // signature-memoized (JsonlNdv): the rule runs per candidate per
        // optimizer pass — uncached listing+parse here would scale plan
        // latency with file count on every query
        graft.sources.JsonlNdv.coveredRows(t.dir).map(_.toDouble)
      case _ => None
    }
    case _ => None
  }

  private def ndvOf(plan: LogicalPlan, a: Attribute): Option[Double] =
    NdvBroadcastRule.rootOf(plan, a).flatMap { case (dir, col) =>
      graft.sources.JsonlNdv.mergedNdv(dir, col).map(_.estimate)
    }

  /** Sketch-proven |l ⋈ r| under `cond`, when every conjunct is an
    * attribute equi-pair between the two sides and every input is fully
    * covered by sidecar evidence. */
  private def joinRowsEst(l: LogicalPlan, r: LogicalPlan,
      cond: Expression): Option[Double] = {
    val pairs = conjuncts(cond).map {
      case EqualTo(x: Attribute, y: Attribute)
          if l.outputSet.contains(x) && r.outputSet.contains(y) =>
        Some((x, y))
      case EqualTo(y: Attribute, x: Attribute)
          if l.outputSet.contains(x) && r.outputSet.contains(y) =>
        Some((x, y))
      case _ => None
    }
    if (pairs.isEmpty || pairs.exists(_.isEmpty)) return None
    val sels = pairs.flatten.map { case (x, y) =>
      for (nx <- ndvOf(l, x); ny <- ndvOf(r, y))
        yield math.max(math.max(nx, ny), 1.0)
    }
    if (sels.exists(_.isEmpty)) None
    else for (lr <- exactRows(l); rr <- exactRows(r))
      yield lr * rr / sels.flatten.product
  }

  private def hintless(h: JoinHint): Boolean =
    h.leftHint.isEmpty && h.rightHint.isEmpty

  /** See through pure-attribute Projects (what a `using`-join inserts to
    * drop the duplicate key column) and aliases to the Join beneath —
    * attribute ids pass through unchanged, so conditions referencing the
    * join's sides stay valid across the strip. A Project that COMPUTES
    * anything is opaque: reordering under it could change what the
    * expressions see. */
  private object PureProjected {
    def unapply(p: LogicalPlan): Option[Join] = p match {
      case j: Join => Some(j)
      case Project(list, child) if list.forall(_.isInstanceOf[Attribute]) =>
        unapply(child)
      case s: SubqueryAlias => unapply(s.child)
      case _ => None
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case j @ Join(PureProjected(Join(a, b, Inner, Some(condAB), hAB)),
        c, Inner, Some(condAC), hJ)
        if hintless(hAB) && hintless(hJ) &&
          // the outer condition must be detachable from B
          condAC.references.subsetOf(a.outputSet ++ c.outputSet) =>
      (joinRowsEst(a, b, condAB), joinRowsEst(a, c, condAC)) match {
        case (Some(ab), Some(ac)) if ac < ab =>
          val reordered = Join(
            Join(a, c, Inner, Some(condAC), JoinHint.NONE),
            b, Inner, Some(condAB), JoinHint.NONE)
          Project(j.output.toSeq, reordered)
        case _ => j
      }
  }
}
