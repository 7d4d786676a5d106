package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, Join, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.LongType

/** BAND JOIN as a first-class operator — the full custom-operator stack
  * (SURVEY.md §7.4 tier (c)): a logical node, an optimizer rule that
  * RECOGNIZES the declarative pattern, a planner strategy, and a physical
  * operator, all injected by [[graft.functions.GraftExtensions]].
  *
  * The problem: `a JOIN b ON a.k = b.k AND abs(a.ts − b.ts) <= W` — the
  * temporal-tolerance join behind sensor fusion, click attribution and
  * log alignment — has a non-equi residual, and once the equi-key is
  * low-selectivity Spark's fallback for the broadcastable case evaluates
  * the residual per (left row × key-matched right row): the per-key scan
  * is O(|bucket|) where the band admits O(log + hits). The j11/j15
  * entries solve this MANUALLY (hour-bucket + mirror expansion); this
  * operator gives the same asymptotics to the DECLARATIVE form — the
  * user writes the natural theta join, [[BandJoinRewrite]] lifts it to a
  * [[BandJoin]] node, [[BandJoinStrategy]] plans [[BandJoinExec]], and
  * the physical operator probes a BROADCAST key→time-sorted index with
  * binary search: O(log m + hits) per probe row instead of O(bucket).
  *
  * Correctness contract: INNER join, both time sides LongType (epoch
  * millis — the rewrite only fires on that shape), right side small
  * enough to broadcast (the strategy fires only under the session's
  * autoBroadcastJoinThreshold estimate, like any broadcast join). If the
  * rule or strategy does not fire — unresolved shape, right side too
  * big — the query falls back to Spark's stock join plans with
  * IDENTICAL results: the operator is an acceleration, never a
  * semantics change (PlanSpec pins the acceleration; the DuckDB oracle
  * pins the semantics either way).
  *
  * 100 TB posture: probe-side streaming (no shuffle of the big side, no
  * sort), broadcast index ∝ small side, per-row work logarithmic. The
  * same shape Databricks ships as its range-join optimization. */
case class BandJoin(left: LogicalPlan, right: LogicalPlan,
    leftKey: Expression, rightKey: Expression,
    leftTs: Expression, rightTs: Expression, band: Long)
    extends BinaryNode {
  override def output: Seq[Attribute] = left.output ++ right.output
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): BandJoin =
    copy(left = newLeft, right = newRight)
}

/** Recognizes `Join(Inner, k_l = k_r AND abs(ts_l − ts_r) <= W)` (either
  * conjunct order, either side order inside abs) where the ts legs are
  * LongType and each leg resolves wholly to one side; lifts it to
  * [[BandJoin]]. */
object BandJoinRewrite extends Rule[LogicalPlan] {

  private def split(l: LogicalPlan, r: LogicalPlan, a: Expression, b: Expression)
      : Option[(Expression, Expression)] =
    if (a.references.subsetOf(l.outputSet) && b.references.subsetOf(r.outputSet))
      Some((a, b))
    else if (b.references.subsetOf(l.outputSet) && a.references.subsetOf(r.outputSet))
      Some((b, a))
    else None

  override def apply(plan: LogicalPlan): LogicalPlan = plan transform {
    case j @ Join(l, r, Inner, Some(And(c1, c2)), _) =>
      val (eq, bandC) = (c1, c2) match {
        case (e: EqualTo, b) => (Some(e), b)
        case (b, e: EqualTo) => (Some(e), b)
        case _               => (None, c1)
      }
      val lifted = for {
        EqualTo(ka, kb) <- eq
        (lk, rk) <- split(l, r, ka, kb)
        (lt, rt, w) <- bandC match {
          case LessThanOrEqual(Abs(Subtract(ta, tb, _), _), Literal(w: Long, LongType))
              if ta.dataType == LongType =>
            split(l, r, ta, tb).map { case (lt, rt) => (lt, rt, w) }
          case LessThanOrEqual(Abs(Subtract(ta, tb, _), _), Literal(w: Int, _))
              if ta.dataType == LongType =>
            split(l, r, ta, tb).map { case (lt, rt) => (lt, rt, w.toLong) }
          case _ => None
        }
      } yield BandJoin(l, r, lk, rk, lt, rt, w)
      lifted.getOrElse(j)
  }
}

/** Plans [[BandJoin]] as [[BandJoinExec]] when the right side's size
  * estimate fits the session broadcast threshold; otherwise falls back to
  * the equivalent stock Join so planning always succeeds. */
object BandJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case BandJoin(l, r, lk, rk, lt, rt, w) =>
      val conf = org.apache.spark.sql.internal.SQLConf.get
      if (r.stats.sizeInBytes <= conf.autoBroadcastJoinThreshold) {
        BandJoinExec(planLater(l), planLater(r), lk, rk, lt, rt, w) :: Nil
      } else {
        val cond = And(EqualTo(lk, rk),
          LessThanOrEqual(Abs(Subtract(lt, rt), failOnError = false),
            Literal(w, LongType)))
        planLater(Join(l, r, Inner, Some(cond),
          org.apache.spark.sql.catalyst.plans.logical.JoinHint.NONE)) :: Nil
      }
    case _ => Nil
  }
}

/** Physical band join: collect + broadcast the right side as a key-keyed
  * map of time-SORTED row arrays, then stream the left side probing each
  * row's (key, ts) with binary search — per-row cost O(log m + hits), no
  * shuffle, no sort of the probe side. */
case class BandJoinExec(left: SparkPlan, right: SparkPlan,
    leftKey: Expression, rightKey: Expression,
    leftTs: Expression, rightTs: Expression, band: Long)
    extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output ++ right.output

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): BandJoinExec =
    copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    val rk = BindReferences.bindReference(rightKey, right.output)
    val rt = BindReferences.bindReference(rightTs, right.output)
    // build the broadcast index once on the driver: key → rows sorted by ts
    val index: Map[Long, Array[(Long, InternalRow)]] = right.executeCollect()
      .map(row => (rk.eval(row).asInstanceOf[Long],
        rt.eval(row).asInstanceOf[Long], row.copy()))
      .groupBy(_._1)
      .map { case (k, rows) =>
        k -> rows.map(t => (t._2, t._3)).sortBy(_._1)
      }
    val bcast = sparkContext.broadcast(index)
    val lk = BindReferences.bindReference(leftKey, left.output)
    val lt = BindReferences.bindReference(leftTs, left.output)
    val w = band
    val attrs = output
    left.execute().mapPartitions { it =>
      val idx = bcast.value
      val joined = new JoinedRow
      val toUnsafe = UnsafeProjection.create(attrs, attrs)
      it.flatMap { lrow =>
        idx.get(lk.eval(lrow).asInstanceOf[Long]) match {
          case None => Iterator.empty
          case Some(arr) =>
            val t = lt.eval(lrow).asInstanceOf[Long]
            // first index with ts >= t - w
            var lo = 0; var hi = arr.length
            while (lo < hi) {
              val mid = (lo + hi) >>> 1
              if (arr(mid)._1 < t - w) lo = mid + 1 else hi = mid
            }
            val lcopy = lrow.copy()
            Iterator.range(lo, arr.length)
              .takeWhile(i => arr(i)._1 <= t + w)
              .map(i => toUnsafe(joined(lcopy, arr(i)._2)))
        }
      }
    }
  }
}
