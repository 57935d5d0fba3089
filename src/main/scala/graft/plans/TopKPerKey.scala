package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Descending, Expression, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Whole-operator Catalyst extension (SURVEY.md §7.3 preference (c):
  * logical node + SparkStrategy + physical SparkPlan): exact top-k rows
  * per key WITHOUT a sort.
  *
  * The window formulation (`row_number().over(partitionBy(key).orderBy(
  * ord)) <= k`) is correct but its physical plan is exchange → FULL SORT
  * of every partition → WindowExec → filter: at 100 TB the sort is
  * O(n log n) per partition with spill, to keep k rows per key. This
  * operator declares `ClusteredDistribution(keys)` (EnsureRequirements
  * inserts the same single hash exchange the window needs) but replaces
  * the sort+window with one streaming pass: a bounded k-heap per key —
  * O(n log k), no spillable sort buffer, memory k·|keys-per-partition|
  * rows. The ordering must be TOTAL (include tiebreak columns) so the
  * kept set — and therefore the oracle hash — is deterministic at any
  * partitioning and arrival order.
  *
  * Planned via `spark.experimental.extraStrategies`, attached idempotently
  * by [[TopKPerKey.topK]], so sessions need no config.
  */
case class TopKPerKey(keys: Seq[Expression], order: Seq[SortOrder], k: Int,
                      child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKey =
    copy(child = newChild)
}

object TopKPerKeyStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKey(keys, order, k, child) =>
      TopKPerKeyExec(keys, order, k, planLater(child)) :: Nil
    case _ => Nil
  }
}

case class TopKPerKeyExec(keys: Seq[Expression], order: Seq[SortOrder], k: Int,
                          child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(keys) :: Nil
  override def outputPartitioning: Partitioning = child.outputPartitioning

  protected override def doExecute(): RDD[InternalRow] = {
    val kLocal = k
    val keyExprs = keys
    val ordExprs = order
    val childOutput = child.output
    val maxKeys = TopKPerKeyExec.MaxHeapKeys
    child.execute().mapPartitions { iter =>
      val keyProj = UnsafeProjection.create(keyExprs, childOutput)
      val ord = GenerateOrdering.generate(ordExprs, childOutput)
      val rowOrd = ord.asInstanceOf[Ordering[InternalRow]]
      // max-heap per key under `ord`: head = worst kept row, so admission
      // is one compare and eviction one dequeue — O(log k) per row
      val heaps = scala.collection.mutable.LinkedHashMap
        .empty[UnsafeRow, scala.collection.mutable.PriorityQueue[InternalRow]]
      // cap fallback: when a partition's key cardinality exceeds MaxHeapKeys
      // the hash-of-heaps (which holds FULL input rows for the hot path)
      // flushes its k-row candidates and restarts, so live memory is
      // bounded by the cap, not the partition's key domain. Flushed
      // candidates are exact per-chunk top-k — top-k is a semigroup
      // (topk(A∪B) = topk(topk(A)∪topk(B))) — so one merge pass over the
      // candidate set (≤ output size, sorted by (key, ord)) recovers the
      // exact global answer. An OUTPUT that outgrows executor memory
      // needs the spilling sort+window formulation instead; that bound
      // is documented, this one is enforced.
      val flushed = scala.collection.mutable.ArrayBuffer.empty[(UnsafeRow, InternalRow)]
      def flush(): Unit = {
        heaps.foreach { case (key, h) => h.foreach(r => flushed += ((key, r))) }
        heaps.clear()
      }
      iter.foreach { row =>
        val key = keyProj(row)
        val h = heaps.get(key) match {
          case Some(hq) => hq
          case None =>
            if (heaps.size >= maxKeys) flush()
            val hq = scala.collection.mutable.PriorityQueue
              .empty[InternalRow](rowOrd)
            heaps.put(key.copy(), hq)
            hq
        }
        if (h.size < kLocal) h.enqueue(row.copy())
        else if (ord.compare(row, h.head) < 0) { h.dequeue(); h.enqueue(row.copy()) }
      }
      if (flushed.isEmpty) {
        heaps.valuesIterator.flatMap(h => h.toArray.sorted(rowOrd).iterator)
      } else {
        flush()
        // merge: total-order candidates by (key bytes, ord), then stream
        // the first k of each key run. Any total key order groups runs.
        def cmpKey(a: UnsafeRow, b: UnsafeRow): Int = {
          val ab = a.getBytes; val bb = b.getBytes
          val n = math.min(ab.length, bb.length)
          var i = 0
          while (i < n) {
            val c = (ab(i) & 0xff) - (bb(i) & 0xff)
            if (c != 0) return c
            i += 1
          }
          ab.length - bb.length
        }
        val arr = flushed.toArray
        java.util.Arrays.sort(arr, new java.util.Comparator[(UnsafeRow, InternalRow)] {
          override def compare(x: (UnsafeRow, InternalRow),
                               y: (UnsafeRow, InternalRow)): Int = {
            val c = cmpKey(x._1, y._1)
            if (c != 0) c else ord.compare(x._2, y._2)
          }
        })
        new Iterator[InternalRow] {
          private var i = 0
          private var runKey: UnsafeRow = _
          private var taken = 0
          override def hasNext: Boolean = {
            while (i < arr.length &&
                   runKey != null && cmpKey(arr(i)._1, runKey) == 0 &&
                   taken >= kLocal) i += 1
            i < arr.length
          }
          override def next(): InternalRow = {
            if (!hasNext) throw new NoSuchElementException
            val (key, row) = arr(i)
            if (runKey == null || cmpKey(key, runKey) != 0) { runKey = key; taken = 0 }
            taken += 1
            i += 1
            row
          }
        }
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyExec =
    copy(child = newChild)
}

object TopKPerKeyExec {
  /** Per-partition live-heap bound: past this many distinct keys the
    * operator flushes candidates and merges at the end (see doExecute).
    * At k≈10 and 4M keys the live map is ~tens of millions of rows —
    * sized for a 4 GiB-heap executor core with headroom. Var only so the
    * cap-neutrality spec can force the flush path at test scale. */
  @volatile var MaxHeapKeys: Int = 4 << 20
}

object TopKPerKey {
  /** Top-k rows of `df` per `keys` group, first-k under `order`
    * ((column, ascending) pairs — pass a TOTAL order: include tiebreak
    * columns). Column references resolve by name against the analyzed
    * child here (a Spark 4 `Column` is a ColumnNode the analyzer only
    * resolves inside standard operators, not custom nodes), so the plan
    * enters the optimizer fully resolved. Attaches the planner strategy
    * to the session idempotently. */
  def topK(df: DataFrame, keys: Seq[String], order: Seq[(String, Boolean)],
           k: Int): DataFrame = {
    val spark = df.sparkSession
    // the read-check-append on session-global extraStrategies is not
    // atomic — serialize it so concurrent query builders can't interleave
    // (duplicate entries are harmless but a lost append is not)
    TopKPerKey.synchronized {
      if (!spark.experimental.extraStrategies.contains(TopKPerKeyStrategy))
        spark.experimental.extraStrategies =
          spark.experimental.extraStrategies :+ TopKPerKeyStrategy
    }
    val child = df.queryExecution.analyzed
    def attr(n: String) = child.output.filter(_.name == n) match {
      case Seq(a) => a
      case Seq() => throw new IllegalArgumentException(
        s"TopKPerKey: no column '$n' in ${child.output.map(_.name)}")
      case dup => throw new IllegalArgumentException(
        s"TopKPerKey: ambiguous column '$n' (${dup.size} matches) — " +
          "disambiguate with aliases before topK")
    }
    val ordExprs = order.map { case (n, asc) =>
      SortOrder(attr(n), if (asc) Ascending else Descending)
    }
    ColumnBridge.ofRows(spark, TopKPerKey(keys.map(attr), ordExprs, k, child))
  }
}
