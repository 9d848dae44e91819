package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftSqlShim}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Descending, Expression, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

/** Whole-operator custom plan (SURVEY §7.4 tier (c)): top-k rows per key,
  * planned like a two-phase aggregation.
  *
  * Spark's built-in expression of "top k per key" is
  * `row_number().over(Window.partitionBy(keys).orderBy(...)) <= k`, which
  * shuffles EVERY row and fully sorts every partition before discarding
  * all but k·|keys| rows. This operator instead:
  *
  *   1. partial stage (map side): one bounded heap of size k per key per
  *      partition — O(n log k) time, O(|keys_local|·k) memory, no sort;
  *   2. shuffle: only the ≤ k·partitions survivors per key move;
  *   3. final stage (reduce side): merge heaps per key, emit in order.
  *
  * At 100 TB with k=10 the shuffle carries ~k·partitions rows per key
  * instead of the full table — the same partial-reduction argument that
  * makes `partial_sum` cheap makes this top-k cheap, and a hot key costs
  * k rows per map partition, never its full row count (skew-immune).
  *
  * The logical node is planned by [[TopKStrategy]], injected either via
  * `SparkSessionExtensions.injectPlannerStrategy` ([[GraftExtensions]]) or
  * live on a session by `GraftExtensions.install` (which [[TopK.perKey]]
  * calls).
  */
case class TopKPerKeyPlan(keys: Seq[Expression], order: Seq[SortOrder],
    k: Int, child: LogicalPlan) extends UnaryNode {
  require(k > 0, s"top-k needs k > 0, got $k")
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKeyPlan =
    copy(child = newChild)
}

/** Plans [[TopKPerKeyPlan]] as partial-heap → exchange → final-heap. */
object TopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKeyPlan(keys, order, k, child) =>
      val partial = TopKPerKeyExec(keys, order, k, partial = true, planLater(child))
      TopKPerKeyExec(keys, order, k, partial = false, partial) :: Nil
    case _ => Nil
  }
}

case class TopKPerKeyExec(keys: Seq[Expression], order: Seq[SortOrder],
    k: Int, partial: Boolean, child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output

  /** The final stage demands co-location by key; EnsureRequirements then
    * inserts the hash exchange between the two stages. The partial stage
    * runs wherever the child's rows already are. */
  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) UnspecifiedDistribution :: Nil
    else ClusteredDistribution(keys) :: Nil

  /** Row-wise filter per key: whatever partitioning holds below still
    * holds above (lets a downstream per-key operator reuse the exchange). */
  override def outputPartitioning: Partitioning = child.outputPartitioning

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyExec =
    copy(child = newChild)

  override protected def doExecute(): RDD[InternalRow] = {
    val keyExprs = keys
    val sortOrder = order
    val limit = k
    val childOutput = child.output
    val emitSorted = !partial
    child.execute().mapPartitions({ iter =>
      val keyProj = UnsafeProjection.create(keyExprs, childOutput)
      val toUnsafe = UnsafeProjection.create(childOutput, childOutput)
      // "better" = smaller under the requested order (Descending score
      // sorts first); heap is a max-heap w.r.t. that order so the head is
      // the worst row currently kept.
      val ord = RowOrdering.create(sortOrder, childOutput)
      val heapCmp = new java.util.Comparator[UnsafeRow] {
        override def compare(a: UnsafeRow, b: UnsafeRow): Int = ord.compare(b, a)
      }
      val heaps = new java.util.HashMap[UnsafeRow, java.util.PriorityQueue[UnsafeRow]]()
      iter.foreach { row =>
        val unsafe = toUnsafe(row) // reused buffer; copy only when kept
        val key = keyProj(unsafe)
        var heap = heaps.get(key)
        if (heap == null) {
          // PriorityQueue grows as needed: start small so a large k does
          // not preallocate O(k) per key before any rows arrive
          heap = new java.util.PriorityQueue[UnsafeRow](math.min(limit, 16), heapCmp)
          heaps.put(key.copy(), heap)
        }
        if (heap.size() < limit) heap.add(unsafe.copy())
        else if (ord.compare(unsafe, heap.peek()) < 0) {
          heap.poll()
          heap.add(unsafe.copy())
        }
      }
      import scala.jdk.CollectionConverters._
      val perKey = heaps.values().iterator().asScala.map { h =>
        val arr = h.toArray(new Array[UnsafeRow](h.size()))
        if (emitSorted) java.util.Arrays.sort(arr, ord)
        arr
      }
      perKey.flatMap(_.iterator.asInstanceOf[Iterator[InternalRow]])
    }, preservesPartitioning = true)
  }
}

/** Public API over the custom operator. */
object TopK {
  /** `df` reduced to the top-`k` rows per `keyCols` group, best-first by
    * `scoreCol` descending; `tieCols` (ascending) must pin a total order
    * for a deterministic answer. */
  def perKey(df: DataFrame, keyCols: Seq[String], scoreCol: String,
      tieCols: Seq[String], k: Int): DataFrame = {
    val spark = df.sparkSession
    GraftExtensions.install(spark)
    val analyzed = df.queryExecution.analyzed
    def attr(n: String): Attribute = analyzed.output.find(_.name == n)
      .getOrElse(throw new IllegalArgumentException(
        s"column $n not in ${analyzed.output.map(_.name).mkString(",")}"))
    val order = SortOrder(attr(scoreCol), Descending) +:
      tieCols.map(c => SortOrder(attr(c), Ascending))
    GraftSqlShim.ofRows(spark, TopKPerKeyPlan(keyCols.map(attr), order, k, analyzed))
  }
}
