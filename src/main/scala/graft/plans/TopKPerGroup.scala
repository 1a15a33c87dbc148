// Lives under org.apache.spark.sql to reach private[sql] surfaces
// (Dataset.ofRows, classic session) — the standard pattern for
// out-of-tree physical operators. Source location: graft/plans/.
package org.apache.spark.sql.graft

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, BindReferences, Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.util.collection.ExternalSorter

/** Whole-operator extension (SURVEY §7.2 tier c): per-group top-k as a
  * first-class physical operator.
  *
  * The DataFrame idiom — `row_number().over(partitionBy(g).orderBy(v
  * desc)) <= k` — must SORT every partition: O(n log n) time and O(n)
  * memory per partition, because WindowExec needs groups contiguous and
  * ordered before it can number rows. But top-k doesn't need a sort:
  * a bounded min-heap per group keeps the best k in O(n log k) time and
  * O(groups·k) memory. At 100 TB with k=3 that is the difference between
  * spilling a full sort of every partition to disk and streaming the
  * input once through fixed-size heaps.
  *
  * Pieces: [[TopKPerGroup]] (logical node) → [[TopKPerGroupOp.Strategy]]
  * (SparkStrategy) → [[TopKPerGroupExec]] (physical). The exec declares
  * `ClusteredDistribution(group)`, so EnsureRequirements inserts exactly
  * the hash Exchange the window form also needs — minus its sort.
  * Entry point: [[TopKPerGroupOp.topKPerGroup]]; the strategy is
  * installed by [[graft.plans.GraftExtensions]] with every session.
  *
  * Semantics: largest-k by `order`, NULL order values excluded (the
  * window idiom's `orderBy(desc)` ranks NULLs last, so for k < group
  * size the two agree whenever non-null rows ≥ k). Ties at the k
  * boundary keep an arbitrary valid choice — pass a unique tiebreak
  * column (e.g. a struct of value + id) for full determinism.
  *
  * Memory safety: the heap map is O(groups-per-partition · k). That is
  * the operator's whole advantage when groups are plentiful but bounded;
  * on a pathological high-cardinality group column it would grow without
  * limit — the exact failure mode WindowExec avoids by sorting (and
  * spilling). So the exec carries a budget (`maxBufferedRows`, conf
  * `spark.graft.topk.maxBufferedRows`): if the buffered rows across all
  * heaps in a partition exceed it, the partition FALLS BACK to the
  * sort-based path — buffered rows plus the remaining input drain into
  * Spark's [[ExternalSorter]] (the same spill-capable machinery
  * WindowExec sits on), sorted by (group, order desc), and the first k
  * rows of each group run are emitted. Results are identical; the
  * `sortFallbackCount` SQLMetric records which partitions degraded.
  */
case class TopKPerGroup(group: Seq[Expression], order: Expression, k: Int,
                        child: LogicalPlan,
                        maxBufferedRows: Long = TopKPerGroupOp.DefaultMaxBufferedRows,
                        maxBufferedBytes: Long = TopKPerGroupOp.DefaultMaxBufferedBytes)
    extends UnaryNode {
  require(k > 0)
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerGroup =
    copy(child = newChild)
}

case class TopKPerGroupExec(group: Seq[Expression], order: Expression, k: Int,
                            child: SparkPlan,
                            maxBufferedRows: Long = TopKPerGroupOp.DefaultMaxBufferedRows,
                            maxBufferedBytes: Long = TopKPerGroupOp.DefaultMaxBufferedBytes)
    extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(group) :: Nil
  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerGroupExec =
    copy(child = newChild)

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "numGroups" -> SQLMetrics.createMetric(sparkContext, "number of groups"),
    "sortFallbackCount" -> SQLMetrics.createMetric(sparkContext,
      "partitions that fell back to the sort-based path"))

  override protected def doExecute(): RDD[InternalRow] = {
    val (grp, ord, kk, schema) = (group, order, k, child.output)
    val (budget, byteBudget) = (maxBufferedRows, maxBufferedBytes)
    val numOutputRows = longMetric("numOutputRows")
    val numGroups = longMetric("numGroups")
    val sortFallbackCount = longMetric("sortFallbackCount")
    child.execute().mapPartitionsInternal { iter =>
      val groupProj = UnsafeProjection.create(grp, schema)
      val ordExpr = BindReferences.bindReference(ord, schema)
      val ordering = TypeUtils.getInterpretedOrdering(ord.dataType)
      val cmp = new java.util.Comparator[(Any, InternalRow)] {
        override def compare(a: (Any, InternalRow), b: (Any, InternalRow)): Int =
          ordering.compare(a._1, b._1) // min-heap: current k-th best at head
      }
      val heaps = new java.util.HashMap[UnsafeRow, java.util.PriorityQueue[(Any, InternalRow)]]()
      var buffered = 0L // rows currently held across all heaps
      // …and their actual bytes: a row-count budget alone under-protects
      // against wide rows (large strings/arrays blow memory long before
      // 4M rows), so either trigger flips to the sort path
      var bufferedBytes = 0L
      def rowBytes(r: InternalRow): Long = r match {
        case u: UnsafeRow => u.getSizeInBytes.toLong
        case _ => 64L // non-unsafe child output: coarse floor keeps the trigger sane
      }
      var overflow = false
      while (!overflow && iter.hasNext) {
        val row = iter.next()
        val v = ordExpr.eval(row)
        if (v != null) {
          val key = groupProj(row)
          var heap = heaps.get(key)
          if (heap == null) {
            heap = new java.util.PriorityQueue[(Any, InternalRow)](kk, cmp)
            heaps.put(key.copy(), heap)
          }
          // Buffer-backed order values (UTF8String, arrays, …) returned by
          // eval(row) point into the iterator's REUSED row buffer — they
          // go stale on iter.next(). Re-evaluate against the stable copied
          // row before storing; the transient `v` is only safe for the
          // immediate comparison above/below.
          if (heap.size < kk) {
            val stable = row.copy()
            heap.add((ordExpr.eval(stable), stable))
            buffered += 1
            bufferedBytes += rowBytes(stable)
            if (buffered > budget || bufferedBytes > byteBudget) overflow = true
          } else if (ordering.compare(v, heap.peek()._1) > 0) {
            val evicted = heap.poll()
            bufferedBytes -= rowBytes(evicted._2)
            val stable = row.copy()
            heap.add((ordExpr.eval(stable), stable))
            bufferedBytes += rowBytes(stable)
            if (bufferedBytes > byteBudget) overflow = true
          }
        }
      }
      import scala.jdk.CollectionConverters._
      val out: Iterator[InternalRow] = if (!overflow) {
        numGroups += heaps.size
        heaps.values().asScala.iterator.flatMap { h =>
          val arr = h.toArray(Array.empty[(Any, InternalRow)])
          java.util.Arrays.sort(arr, cmp.reversed()) // emit best-first
          arr.iterator.map(_._2)
        }
      } else {
        // Sort-based fallback: (group-key bytes, order value) keys over
        // the spill-capable external sorter; equal group keys come out
        // adjacent with order values descending, so top-k per group is a
        // single stateful scan of the sorted run.
        sortFallbackCount += 1
        type K = (Array[Byte], Any)
        val keyOrd = new Ordering[K] {
          override def compare(a: K, b: K): Int = {
            val c = java.util.Arrays.compareUnsigned(a._1, b._1)
            if (c != 0) c else ordering.compare(b._2, a._2) // order DESC in-group
          }
        }
        val sorter = new ExternalSorter[K, InternalRow, InternalRow](
          TaskContext.get(), aggregator = None, partitioner = None,
          ordering = Some(keyOrd))
        // register cleanup BEFORE feeding the sorter: if insertAll throws
        // (spill I/O failure, eval exception), the spill files and
        // acquired execution memory must still be released via stop()
        Option(TaskContext.get()).foreach(
          _.addTaskCompletionListener[Unit](_ => sorter.stop()))
        def keyBytes(row: InternalRow): Array[Byte] = {
          val k = groupProj(row)
          java.util.Arrays.copyOf(k.getBytes, k.getSizeInBytes)
        }
        val fromHeaps = heaps.values().asScala.iterator.flatMap(_.asScala.iterator)
          .map { case (v, stable) => ((keyBytes(stable), v), stable) }
        val fromInput = iter.flatMap { row =>
          val stable = row.copy()
          val v = ordExpr.eval(stable)
          if (v == null) Iterator.empty
          else Iterator.single(((keyBytes(stable), v), stable))
        }
        sorter.insertAll(fromHeaps ++ fromInput)
        heaps.clear()
        var prevKey: Array[Byte] = null
        var emitted = 0
        sorter.iterator.filter { kv =>
          val g = kv._1._1
          if (prevKey == null || !java.util.Arrays.equals(prevKey, g)) {
            prevKey = g; emitted = 1; numGroups += 1; true
          } else { emitted += 1; emitted <= kk }
        }.map(_._2)
      }
      out.map { r => numOutputRows += 1; r }
    }
  }
}

object TopKPerGroupOp {
  /** Default per-partition heap budget (rows). 4M (Any, row) entries is a
    * few hundred MB worst-case — comfortably inside an executor core's
    * share while still letting virtually every realistic workload take
    * the heap path. Override per-session with
    * `spark.graft.topk.maxBufferedRows`. */
  val DefaultMaxBufferedRows: Long = 4L << 20

  /** Default per-partition heap budget in ACTUAL row bytes
    * (`UnsafeRow.getSizeInBytes`, accumulated at insert) — the guard the
    * row count can't give: 4M rows of 1 KB strings is 4 GB. 256 MB keeps
    * the worst case inside an executor core's share. Override with
    * `spark.graft.topk.maxBufferedBytes`. */
  val DefaultMaxBufferedBytes: Long = 256L << 20

  object Strategy extends SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case TopKPerGroup(g, o, k, child, budget, byteBudget) =>
        TopKPerGroupExec(g, o, k, planLater(child), budget, byteBudget) :: Nil
      case _ => Nil
    }
  }

  /** Largest-k rows per group by `orderCol`. The session plans the node
    * with [[Strategy]], which [[graft.plans.GraftExtensions]] installs. */
  def topKPerGroup(df: DataFrame, groupCols: Seq[String], orderCol: String,
                   k: Int): DataFrame = {
    val spark = df.sparkSession
    val budget = spark.conf.getOption("spark.graft.topk.maxBufferedRows")
      .map(_.toLong).getOrElse(DefaultMaxBufferedRows)
    val byteBudget = spark.conf.getOption("spark.graft.topk.maxBufferedBytes")
      .map(_.toLong).getOrElse(DefaultMaxBufferedBytes)
    val lp = df.queryExecution.analyzed
    def attr(n: String): Attribute = lp.output.find(_.name == n).getOrElse(
      throw new IllegalArgumentException(s"column $n not in ${lp.output.map(_.name)}"))
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      TopKPerGroup(groupCols.map(attr), attr(orderCol), k, lp, budget, byteBudget))
  }
}
