package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, UnaryNode, Window, WindowGroupLimit}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, ClusteredDistribution, Distribution}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}

/** Whole-operator top-k-per-key: the SURVEY.md §2.11 tier-(c) extension
  * point (custom `LogicalPlan` + `Rule[LogicalPlan]` + `Strategy` +
  * `SparkPlan`) demonstrated on a real Spark gap.
  *
  * Spark plans `filter(row_number().over(partitionBy(p).orderBy(o)) <= k)`
  * as WindowExec: a FULL sort of every partition's rows, then ranking, then
  * discarding everything past k. At 100 TB candidate sets (ANN probes,
  * LSH buckets) the sort dominates. [[TopKPerKeyExec]] keeps only a k-row
  * bounded heap per key — O(n log k) comparisons, O(#keys · k) memory, no
  * sort buffer, no spill — and emits each key's rows with their exact
  * row_number ranks.
  *
  * [[RewriteTopKPerKey]] pattern-matches the declarative form in the
  * optimizer, so query code stays DataFrame-idiomatic (q27/q28/q49 are
  * written with plain window functions) and the physical win is a session
  * installation away. Semantics are IDENTICAL to the window form when the
  * ordering is total (ours are: score desc, id asc); TopKSpec pins
  * rule-on/rule-off equality on the similarity queries.
  */
case class TopKPerKeyNode(
    partitionExprs: Seq[Expression],
    orderExprs: Seq[SortOrder],
    k: Int,
    rankAttr: Attribute,
    child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output :+ rankAttr
  override def producedAttributes: AttributeSet = AttributeSet(rankAttr)
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKeyNode =
    copy(child = newChild)
}

/** Bounded-heap top-k per key. `rankAttr = None` is the PARTIAL mode: runs
  * map-side before the exchange, prunes each input partition to at most k
  * rows per key, emits them unranked (order irrelevant — the final pass
  * re-heaps). `rankAttr = Some(_)` is the FINAL mode: demands clustering on
  * the keys and emits each key's rows with exact row_number ranks. Neither
  * mode sorts its input — Spark's own inferred WindowGroupLimit still pays
  * a full map-side sort; this pair is heap-only on both sides.
  *
  * Partial-mode memory is BOUNDED: the per-key heap map is O(#distinct keys
  * in the partition × k), which for a high-cardinality partition key would
  * regress to OOM where WindowExec at least spills. Once retained rows
  * exceed `spark.graft.topk.partialFlushRows` (default 2^20), the current
  * heaps are emitted unranked and the map cleared. Correctness is
  * unaffected: each key's true partition top-k rows are within their
  * segment's top-k (a segment's rows are a subset of the partition's), so
  * the union of flushed segments is a superset of the exact top-k and the
  * final pass re-heaps it down. Flushing only ever happens in partial mode;
  * the final ranking pass sees every surviving row for a key, clustered. */
case class TopKPerKeyExec(
    partitionExprs: Seq[Expression],
    orderExprs: Seq[SortOrder],
    k: Int,
    rankAttr: Option[Attribute],
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output ++ rankAttr
  override def producedAttributes: AttributeSet = AttributeSet(rankAttr.toSeq)

  /** Final mode: same clustering the equivalent Window would demand —
    * EnsureRequirements inserts (at most) the same single hash exchange.
    * Partial mode runs wherever the child is. */
  override def requiredChildDistribution: Seq[Distribution] =
    if (rankAttr.isEmpty) super.requiredChildDistribution
    else if (partitionExprs.isEmpty) AllTuples :: Nil
    else ClusteredDistribution(partitionExprs) :: Nil

  override protected def doExecute(): RDD[InternalRow] = {
    val kLocal = k
    val partExprs = partitionExprs
    val ordSpec = orderExprs
    val childOutput = child.output
    val emitRank = rankAttr.isDefined
    val outAttrs = output
    val flushRows = math.max(1,
      conf.getConfString("spark.graft.topk.partialFlushRows", (1 << 20).toString).toInt)
    child.execute().mapPartitions({ iter =>
      val keyProj = UnsafeProjection.create(partExprs, childOutput)
      // exchanges and most parents expect UnsafeRow; normalize non-unsafe
      // children (e.g. a join's JoinedRow) through an identity projection
      val inProj = UnsafeProjection.create(childOutput, childOutput)
      val ord = GenerateOrdering.generate(ordSpec, childOutput)
      // head of each heap = the WORST row currently kept for that key
      val heapOrd = ord.reversed()
      val heaps =
        new java.util.LinkedHashMap[UnsafeRow, java.util.PriorityQueue[UnsafeRow]]()
      var retained = 0
      def ingest(raw: InternalRow): Unit = {
        val row = raw match {
          case u: UnsafeRow => u
          case r => inProj(r)
        }
        val key = keyProj(row)
        var heap = heaps.get(key)
        if (heap == null) {
          // small initial capacity: many keys hold far fewer than k rows,
          // and an eager k+1 backing array per key would be O(#keys · k)
          // memory before any row arrives (and overflow for k near MaxValue)
          heap = new java.util.PriorityQueue[UnsafeRow](
            math.max(1, math.min(kLocal, 16)), heapOrd)
          heaps.put(key.copy(), heap)
        }
        if (heap.size() < kLocal) { heap.add(row.copy()); retained += 1 }
        else if (ord.compare(row, heap.peek()) < 0) {
          heap.poll()
          heap.add(row.copy())
        }
      }
      import scala.jdk.CollectionConverters._
      if (!emitRank) {
        // size-triggered flush: drain the heap map whenever it holds
        // `flushRows` rows, so high-cardinality partition keys stay O(flush)
        new Iterator[InternalRow] {
          private var cur: Iterator[UnsafeRow] = Iterator.empty
          private def drain(): Iterator[UnsafeRow] = {
            val vs = heaps.values().asScala.toVector
            heaps.clear()
            retained = 0
            vs.iterator.flatMap(_.iterator().asScala)
          }
          override def hasNext: Boolean = {
            while (!cur.hasNext && iter.hasNext) {
              while (iter.hasNext && retained < flushRows) ingest(iter.next())
              cur = drain() // each segment ingests ≥ 1 row → non-empty
            }
            cur.hasNext
          }
          override def next(): InternalRow = {
            if (!hasNext) throw new NoSuchElementException("empty iterator")
            cur.next()
          }
        }
      } else {
        // final mode never flushes: its clustering guarantees every
        // surviving row of a key is in this partition, and exact ranks
        // need all of them
        while (iter.hasNext) ingest(iter.next())
        val joined = new JoinedRow
        val rankRow = new GenericInternalRow(1)
        val outProj = UnsafeProjection.create(outAttrs, outAttrs)
        heaps.values().asScala.iterator.flatMap { heap =>
          val arr = heap.toArray(new Array[UnsafeRow](heap.size()))
          java.util.Arrays.sort(arr, ord)
          arr.iterator.zipWithIndex.map { case (r, i) =>
            rankRow.update(0, i + 1)
            outProj(joined(r, rankRow))
          }
        }
      }
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyExec =
    copy(child = newChild)
}

object TopKPerKeyStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKeyNode(p, o, k, rank, child) =>
      // partial prune (map-side) -> [exchange from EnsureRequirements] ->
      // final rank; both heap-only
      TopKPerKeyExec(p, o, k, Some(rank),
        TopKPerKeyExec(p, o, k, None, planLater(child))) :: Nil
    case _ => Nil
  }
}

/** Optimizer rule: `Filter(rank <= k, Window(row_number() over (p, o)))` →
  * [[TopKPerKeyNode]]. Fires only on the exact pattern — a single
  * row_number window expression with the standard row frame, filtered by a
  * literal bound on its attribute (`<=k`, `<k+1`, or `=1`); everything else
  * is left to WindowExec. The produced node emits exactly the rows the
  * filter would keep, so the filter is dropped. */
object RewriteTopKPerKey extends Rule[LogicalPlan] {

  private def rowNumberWindow(w: Window): Option[Attribute] = w match {
    case Window(Seq(alias @ Alias(WindowExpression(RowNumber(),
        WindowSpecDefinition(_, _, SpecifiedWindowFrame(RowFrame, UnboundedPreceding, CurrentRow))), _)), _, _, _, _) =>
      Some(alias.toAttribute)
    case _ => None
  }

  private def bound(cond: Expression, rank: Attribute): Option[Int] = cond match {
    case LessThanOrEqual(a: Attribute, Literal(v: Int, _)) if a.semanticEquals(rank) => Some(v)
    case LessThan(a: Attribute, Literal(v: Int, _)) if a.semanticEquals(rank) => Some(v - 1)
    case GreaterThanOrEqual(Literal(v: Int, _), a: Attribute) if a.semanticEquals(rank) => Some(v)
    case EqualTo(a: Attribute, Literal(1, _)) if a.semanticEquals(rank) => Some(1)
    case EqualTo(Literal(1, _), a: Attribute) if a.semanticEquals(rank) => Some(1)
    case _ => None
  }

  /** Spark's InferWindowGroupLimit has already inserted a logical
    * WindowGroupLimit below the Window by the time user rules run; it
    * prunes to the same k but still requires a full map-side SORT. The
    * partial TopKPerKeyExec supersedes it heap-only, so strip it when its
    * spec matches ours. */
  private def stripInferredGroupLimit(w: Window): LogicalPlan = w.child match {
    case wgl: WindowGroupLimit
        if wgl.partitionSpec == w.partitionSpec && wgl.orderSpec == w.orderSpec =>
      wgl.child
    case c => c
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan transformUp {
    case f @ Filter(cond, w: Window) =>
      (for {
        rank <- rowNumberWindow(w)
        k <- bound(cond, rank) if k >= 1
      } yield TopKPerKeyNode(w.partitionSpec, w.orderSpec, k, rank,
        stripInferredGroupLimit(w)))
        .getOrElse(f)
  }
}

/** Session wiring — the one hook every entry point calls, so it also
  * installs [[SortLocalRelation]]. `install` uses the public experimental
  * hooks (works on an already-built session); [[GraftExtensions]] is the
  * `spark.sql.extensions=graft.plans.GraftExtensions` entry point for
  * config-driven deployments. */
object TopKPerKey {
  private val rules = Seq(RewriteTopKPerKey, SortLocalRelation)
  def install(s: SparkSession): Unit = {
    if (!s.experimental.extraStrategies.contains(TopKPerKeyStrategy))
      s.experimental.extraStrategies = TopKPerKeyStrategy +: s.experimental.extraStrategies
    val missing = rules.filterNot(s.experimental.extraOptimizations.contains)
    s.experimental.extraOptimizations = missing ++ s.experimental.extraOptimizations
  }
  def uninstall(s: SparkSession): Unit = {
    s.experimental.extraStrategies =
      s.experimental.extraStrategies.filterNot(_ == TopKPerKeyStrategy)
    s.experimental.extraOptimizations =
      s.experimental.extraOptimizations.filterNot(rules.contains)
  }
}

class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => RewriteTopKPerKey)
    ext.injectOptimizerRule(_ => SortLocalRelation)
    ext.injectPlannerStrategy(_ => TopKPerKeyStrategy)
  }
}
