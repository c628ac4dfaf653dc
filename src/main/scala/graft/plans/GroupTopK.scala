package graft.plans

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, GraftSqlShim, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSet, Expression, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, UnaryNode, Window, WindowGroupLimit}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types.LongType

/** Grouped top-k as a CUSTOM whole operator — the extension tier the
  * engine otherwise avoids (SURVEY §7 "built-in vs custom"): a logical
  * node, a planner strategy, and a two-phase physical operator, wired
  * through `spark.experimental.extraStrategies`.
  *
  * Why a custom operator: the declarative formulation
  * (`row_number().over(Window.partitionBy(g).orderBy(o)) <= k`, q42)
  * SORTS every group in full — at 100 TB the shuffle carries every row
  * and the sort touches all of them, to then discard all but k. This
  * operator keeps a bounded heap of k rows per group: the map side
  * already reduces each partition to ≤ k rows per group, the shuffle
  * carries ≤ k·partitions rows per group, and nothing is ever fully
  * sorted. Same result, bit-for-bit (q63 shares q42's DuckDB oracle).
  *
  * Memory model: O(groups-per-partition × k) rows held per task — the
  * same envelope as hash aggregation over the group key. A production
  * hardening would add the ObjectHashAggregate-style fallback (spill the
  * heap table and merge sorted runs) for pathological group counts; at
  * that point the operator degrades to the sort-based plan it replaces,
  * never worse.
  */
object GroupTopK {

  /** df grouped by `groupCols`, ordered by `order` within each group,
    * keeping the first k rows per group with a `rk` rank column
    * (1-based) appended. */
  def apply(df: DataFrame, groupCols: Seq[String], order: Seq[Column], k: Int,
            rankName: String = "rk"): DataFrame = {
    val child = df.queryExecution.analyzed
    val out = child.output
    // resolve with the session's resolver (case-insensitive by default,
    // matching every other DataFrame API) and reject ambiguity instead
    // of silently taking the first duplicate
    val resolver = df.sparkSession.sessionState.conf.resolver
    def byName(n: String): Attribute = out.filter(a => resolver(a.name, n)) match {
      case Seq(one) => one
      case Seq() => throw new IllegalArgumentException(
        s"column $n not in ${out.map(_.name)}")
      case many => throw new IllegalArgumentException(
        s"column $n is ambiguous: ${many.map(_.name)}")
    }
    def resolve(e: Expression): Expression = e.transformUp {
      case u: UnresolvedAttribute => byName(u.name)
    }
    val g = groupCols.map(byName(_).asInstanceOf[Expression])
    val so = order.map { c =>
      GraftSqlShim.expression(c) match {
        case s: SortOrder => resolve(s).asInstanceOf[SortOrder]
        case e => SortOrder(resolve(e), org.apache.spark.sql.catalyst.expressions.Ascending)
      }
    }
    val rank = AttributeReference(rankName, LongType, nullable = false)()
    GraftSqlShim.ofRows(df.sparkSession, GroupTopKPlan(g, so, k, rank, child))
  }

  /** Idempotently install the planner strategy AND the rank-limit
    * rewrite rule on a session. */
  def install(spark: SparkSession): Unit = synchronized {
    if (!spark.experimental.extraStrategies.contains(GroupTopKStrategy)) {
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ GroupTopKStrategy
    }
    if (!spark.experimental.extraOptimizations.contains(RankLimitToGroupTopK)) {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ RankLimitToGroupTopK
    }
  }
}

/** Optimizer rule: rewrites the DECLARATIVE grouped-top-k idiom
  * `filter(row_number().over(partitionBy(g).orderBy(o)) <= k)` into the
  * custom bounded-heap operator — users keep writing window functions
  * and transparently get the no-sort plan. Guards: exactly one window
  * expression and it is row_number; the filter is the whole predicate
  * (`rk <= k`, `rk < k`, or `rk == 1`); k bounded so the rewrite can
  * never plant an unbounded in-memory heap. The rank attribute keeps its
  * exprId and IntegerType, so downstream references resolve unchanged.
  * Every oracled query using the idiom (q04, q16, q42) hash-matches with
  * the rule active — the rewrite is bit-exact, not just plausible. */
object RankLimitToGroupTopK extends Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions.{Alias, EqualTo, LessThan, LessThanOrEqual, Literal, RowNumber, WindowExpression}

  private val MaxK = 1024

  private def limitOf(cond: Expression, rankAttr: Attribute): Option[Int] = cond match {
    case LessThanOrEqual(a: Attribute, Literal(k: Int, _)) if a.semanticEquals(rankAttr) => Some(k)
    case LessThan(a: Attribute, Literal(k: Int, _)) if a.semanticEquals(rankAttr) => Some(k - 1)
    case EqualTo(a: Attribute, Literal(1, _)) if a.semanticEquals(rankAttr) => Some(1)
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case f @ Filter(cond, w: Window) =>
      w.windowExpressions match {
        case Seq(alias @ Alias(WindowExpression(RowNumber(), _), _))
            if w.orderSpec.nonEmpty =>
          limitOf(cond, alias.toAttribute) match {
            case Some(k) if k >= 1 && k <= MaxK =>
              // InferWindowGroupLimit may already have planted its partial
              // limiter below the window — the heap subsumes it
              val child = w.child match {
                case wgl: WindowGroupLimit => wgl.child
                case c => c
              }
              GroupTopKPlan(w.partitionSpec, w.orderSpec, k, alias.toAttribute, child)
            case _ => f
          }
        case _ => f
      }
  }
}

/** Logical node: resolved by construction (built from an analyzed child
  * with pre-resolved expressions). */
case class GroupTopKPlan(groupExprs: Seq[Expression], order: Seq[SortOrder],
                         k: Int, rankAttr: Attribute, child: LogicalPlan)
    extends UnaryNode {
  override def output: Seq[Attribute] = child.output :+ rankAttr
  override def producedAttributes: AttributeSet = AttributeSet(rankAttr)
  override protected def withNewChildInternal(c: LogicalPlan): GroupTopKPlan =
    copy(child = c)
}

/** Planner: partial (map-side heaps) under final (post-shuffle heaps +
  * rank emission). */
object GroupTopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case g: GroupTopKPlan =>
      GroupTopKFinalExec(g.groupExprs, g.order, g.k, g.rankAttr,
        GroupTopKPartialExec(g.groupExprs, g.order, g.k, planLater(g.child))) :: Nil
    case _ => Nil
  }
}

/** Shared per-partition bounded-heap pass: reduces an iterator to at
  * most k rows per group key. */
private[plans] object TopKHeaps {

  /** Heap table for one partition: key → bounded heap (worst row at the
    * head). Keys are copied only on MISS (one copy per distinct group,
    * not per row); retained rows are copied on insert. */
  def build(iter: Iterator[InternalRow], groupExprs: Seq[Expression],
            order: Seq[SortOrder], k: Int, inputAttrs: Seq[Attribute])
      : mutable.HashMap[UnsafeRow, mutable.PriorityQueue[InternalRow]] = {
    val keyProj = UnsafeProjection.create(groupExprs, inputAttrs)
    // ord: a < b ⇔ a ranks ahead of b; PriorityQueue dequeues the MAX
    // under its ordering, i.e. the currently-worst retained row
    val ord: Ordering[InternalRow] = GenerateOrdering.generate(order, inputAttrs)
    val heaps = mutable.HashMap.empty[UnsafeRow, mutable.PriorityQueue[InternalRow]]
    iter.foreach { row =>
      val key = keyProj(row)
      val heap = heaps.get(key) match {
        case Some(h) => h
        case None =>
          val h = mutable.PriorityQueue.empty[InternalRow](ord)
          heaps.put(key.copy(), h)
          h
      }
      if (heap.size < k) heap.enqueue(row.copy())
      else if (ord.compare(row, heap.head) < 0) {
        heap.dequeue(); heap.enqueue(row.copy())
      }
    }
    heaps
  }

  def perGroup(iter: Iterator[InternalRow], groupExprs: Seq[Expression],
               order: Seq[SortOrder], k: Int,
               inputAttrs: Seq[Attribute]): Iterator[InternalRow] =
    build(iter, groupExprs, order, k, inputAttrs).valuesIterator.flatMap(_.iterator)
}

/** Map-side phase: no distribution requirement; emits ≤ k rows per
  * (group, partition) so the exchange above it shuffles bounded data. */
case class GroupTopKPartialExec(groupExprs: Seq[Expression],
                                order: Seq[SortOrder], k: Int,
                                child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override protected def doExecute(): RDD[InternalRow] = {
    val (g, o, kk, attrs) = (groupExprs, order, k, child.output)
    child.execute().mapPartitions(
      it => TopKHeaps.perGroup(it, g, o, kk, attrs),
      preservesPartitioning = true)
  }
  override protected def withNewChildInternal(c: SparkPlan): GroupTopKPartialExec =
    copy(child = c)
}

/** Reduce-side phase: requires clustering on the group key (the planner
  * inserts the exchange), re-heaps the ≤ k·partitions survivors per
  * group, and emits them rank-ascending with the rank appended. */
case class GroupTopKFinalExec(groupExprs: Seq[Expression],
                              order: Seq[SortOrder], k: Int,
                              rankAttr: Attribute,
                              child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output :+ rankAttr
  override def producedAttributes: AttributeSet = AttributeSet(rankAttr)
  // empty group = GLOBAL top-k: AllTuples gathers the (already
  // partial-reduced, ≤ k per partition) survivors onto one task —
  // UnspecifiedDistribution here would silently emit per-partition
  // top-k with duplicated ranks (review finding)
  override def requiredChildDistribution: Seq[Distribution] =
    if (groupExprs.isEmpty) AllTuples :: Nil
    else ClusteredDistribution(groupExprs) :: Nil
  override protected def doExecute(): RDD[InternalRow] = {
    val (g, o, kk, attrs, outAttrs) = (groupExprs, order, k, child.output, output)
    val rank = rankAttr
    child.execute().mapPartitions({ it =>
      // ONE grouping pass: build() already leaves exactly the per-group
      // top-k heaps for this (clustered) partition
      val groups = TopKHeaps.build(it, g, o, kk, attrs)
      val resultProj = UnsafeProjection.create(outAttrs, attrs :+ rank)
      val joined = new JoinedRow
      // match the rank attribute's type: LongType from the direct API,
      // IntegerType when the optimizer rule replaced a row_number()
      val mkRank: Int => Any = rank.dataType match {
        case LongType => (i: Int) => (i + 1).toLong
        case _ => (i: Int) => i + 1
      }
      groups.valuesIterator.flatMap { heap =>
        val sorted = heap.dequeueAll.reverse // PQ dequeues worst-first
        sorted.iterator.zipWithIndex.map { case (row, i) =>
          resultProj(joined(row, new GenericInternalRow(Array[Any](mkRank(i)))))
        }
      }
    }, preservesPartitioning = true)
  }
  override protected def withNewChildInternal(c: SparkPlan): GroupTopKFinalExec =
    copy(child = c)
}
