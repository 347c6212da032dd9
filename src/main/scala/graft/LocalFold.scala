package graft

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{DeclarativeAggregate, ImperativeAggregate}
import org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation
import org.apache.spark.sql.catalyst.planning.{ExtractEquiJoinKeys, PhysicalAggregation}
import org.apache.spark.sql.catalyst.plans._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.LOCAL_RELATION
import org.apache.spark.sql.graft.Bridge

/** Plans over driver-held rows run on the driver. Spark's
  * ConvertToLocalRelation folds only Project, Filter and Limit, so a join of
  * two LocalRelations still ran one BroadcastExchange job per build side and
  * an aggregate one shuffle. Bottom-up, this rule replaces a Join (inner,
  * cross, left outer, left semi, left anti), a Union or an Aggregate whose
  * children are all non-streaming LocalRelations by a LocalRelation of its
  * result, then lets ConvertToLocalRelation fold the Project, Filter or
  * Limit above it, so a whole plan of small leaves collapses to one leaf.
  *
  * Bounded by [[Local]]'s row cap: every input and the output hold at most
  * `spark.graft.local.maxRows` rows, or the node is left as it was; a cap
  * of 0 turns the rule off. Evaluation is interpreted (no codegen per plan).
  * Row order is that of Spark's broadcast joins building the right side: a
  * join keeps the left (streamed) order, and per left row a hash join's
  * matches come newest first and a nested loop's in the right side's order.
  * An aggregate emits its groups in first-occurrence order.
  */
private[graft] object LocalFold extends Rule[LogicalPlan] {

  private final class OverCap extends RuntimeException(null, null, false, false)

  def apply(plan: LogicalPlan): LogicalPlan = {
    val cap = Local.maxRows(conf)
    if (cap <= 0) plan
    else plan.transformUpWithPruning(_.containsPattern(LOCAL_RELATION)) {
      case p @ (_: Project | _: Filter) if p.children.forall(held) => ConvertToLocalRelation(p)
      case p @ Limit(_, c) if held(c) => ConvertToLocalRelation(p)
      case n @ (_: Join | _: Union | _: Aggregate)
          if n.children.forall(c => held(c) && rows(c).length <= cap) =>
        try fold(n, cap).getOrElse(n) catch { case _: OverCap => n }
    }
  }

  private def held(p: LogicalPlan): Boolean = p match {
    case l: LocalRelation => !l.isStreaming
    case _ => false
  }

  private def rows(p: LogicalPlan): Seq[InternalRow] = p.asInstanceOf[LocalRelation].data

  private def evaluable(e: Expression): Boolean =
    e.deterministic && !ConvertToLocalRelation.hasUnevaluableExpr(e)

  /** Output rows collected up to the cap; one more throws [[OverCap]]. */
  private final class Out(cap: Long) {
    val rows = mutable.ArrayBuffer.empty[InternalRow]
    def +=(r: InternalRow): Unit = {
      if (rows.length >= cap) throw new OverCap
      rows += r
    }
  }

  private def fold(n: LogicalPlan, cap: Long): Option[LogicalPlan] = (n match {
    case j: Join => join(j, cap)
    case u: Union =>
      val out = new Out(cap)
      u.children.foreach(rows(_).foreach(out += _))
      Some(out.rows.toIndexedSeq)
    case a: Aggregate => aggregate(a)
  }).map(data => LocalRelation(n.output, data))

  private def join(j: Join, cap: Long): Option[Seq[InternalRow]] = {
    val (left, right) = (rows(j.left), rows(j.right))
    val in = j.left.output ++ j.right.output
    val (lKeys, rKeys, residual) = j match {
      case ExtractEquiJoinKeys(_, lk, rk, other, _, _, _, _) => (lk, rk, other)
      case _ => (Nil, Nil, j.condition)
    }
    if (!Seq(Inner, Cross, LeftOuter, LeftSemi, LeftAnti).contains(j.joinType) ||
      !(lKeys ++ rKeys ++ residual).forall(evaluable)) return None
    // right rows a left row may match: by hash on equi-keys, else every
    // right row. As in Spark's hash join, a null key matches nothing and a
    // key's rows come newest first.
    val candidates: InternalRow => Iterator[InternalRow] =
      if (lKeys.isEmpty) _ => right.iterator
      else {
        val rKey = InterpretedUnsafeProjection.createProjection(
          BindReferences.bindReferences(rKeys, j.right.output))
        val lKey = InterpretedUnsafeProjection.createProjection(
          BindReferences.bindReferences(lKeys, j.left.output))
        val table = mutable.HashMap.empty[UnsafeRow, List[InternalRow]]
        right.foreach { r =>
          val k = rKey(r)
          if (!k.anyNull) table(k.copy()) = r :: table.getOrElse(k, Nil)
        }
        l => {
          val k = lKey(l)
          if (k.anyNull) Iterator.empty else table.getOrElse(k, Nil).iterator
        }
      }
    val pred = residual.map { c =>
      val p = Predicate.createInterpreted(BindReferences.bindReference(c, in))
      p.initialize(0)
      p
    }
    val joined = new JoinedRow
    def hits(l: InternalRow): Iterator[InternalRow] =
      candidates(l).filter(r => pred.forall(_.eval(joined(l, r))))
    // the joined row as the join's output schema (a left outer join's
    // right columns are nullable)
    val toOut = InterpretedUnsafeProjection.createProjection(
      BindReferences.bindReferences[Expression](j.output, j.output))
    val nullRight = new GenericInternalRow(j.right.output.length)
    val out = new Out(cap)
    left.foreach { l =>
      j.joinType match {
        case LeftSemi => if (hits(l).hasNext) out += l
        case LeftAnti => if (!hits(l).hasNext) out += l
        case jt =>
          var any = false
          hits(l).foreach { r => any = true; out += toOut(joined(l, r)).copy() }
          if (!any && jt == LeftOuter) out += toOut(joined(l, nullRight)).copy()
      }
    }
    Some(out.rows.toIndexedSeq)
  }

  /** One aggregate function's per-group buffer, update and result. */
  private final class Agg(val buffer: () => InternalRow,
      val update: (InternalRow, InternalRow) => Unit, val eval: InternalRow => Any)

  private def aggregate(a: Aggregate): Option[Seq[InternalRow]] = a match {
    case PhysicalAggregation(groupBy, aggExprs, results, child)
        if aggExprs.forall(e => !e.isDistinct && e.filter.isEmpty &&
          e.aggregateFunction.children.forall(evaluable)) &&
          (groupBy ++ results).forall(evaluable) =>
      val input = child.output
      val aggs = aggExprs.map(_.aggregateFunction).map {
        case f: DeclarativeAggregate =>
          val buf = f.aggBufferAttributes
          val init = InterpretedMutableProjection.createProjection(f.initialValues)
          val upd = new InterpretedMutableProjection(f.updateExpressions, buf ++ input)
          val res = BindReferences.bindReference(f.evaluateExpression, buf)
          val joined = new JoinedRow
          Some(new Agg(() => init.target(new GenericInternalRow(buf.length))(InternalRow.empty),
            (b, r) => upd.target(b)(joined(b, r)), res.eval))
        case f: ImperativeAggregate =>
          val g = BindReferences.bindReference(f, input)
            .withNewMutableAggBufferOffset(0).withNewInputAggBufferOffset(0)
          val init = () => {
            val b = new GenericInternalRow(g.aggBufferAttributes.length)
            g.initialize(b)
            b
          }
          Some(new Agg(init, g.update, g.eval))
        case _ => None
      }
      if (aggs.exists(_.isEmpty)) None
      else {
        val fns = aggs.flatten
        val key = InterpretedUnsafeProjection.createProjection(BindReferences.bindReferences(
          groupBy.map(Bridge.normalizeFloats), input))
        val groups = mutable.LinkedHashMap.empty[UnsafeRow, Array[InternalRow]]
        if (groupBy.isEmpty) groups(key(InternalRow.empty).copy()) = fns.map(_.buffer()).toArray
        rows(child).foreach { r =>
          val k = key(r)
          val bufs = groups.getOrElse(k, {
            val fresh = fns.map(_.buffer()).toArray
            groups(k.copy()) = fresh
            fresh
          })
          var i = 0
          while (i < fns.length) { fns(i).update(bufs(i), r); i += 1 }
        }
        val grouped = groupBy.map(_.toAttribute) ++ aggExprs.map(_.resultAttribute)
        val result = InterpretedUnsafeProjection.createProjection(
          BindReferences.bindReferences[Expression](results, grouped))
        val joined = new JoinedRow
        Some(groups.iterator.map { case (k, bufs) =>
          val values = new GenericInternalRow(fns.indices.map(i => fns(i).eval(bufs(i))).toArray)
          result(joined(k, values)).copy()
        }.toIndexedSeq)
      }
    case _ => None
  }
}
