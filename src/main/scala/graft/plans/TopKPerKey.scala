package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}

/** Top-k rows per key — the whole-operator custom-plan showcase (SURVEY §2
  * preference ladder (c): LogicalPlan + Strategy + SparkPlan, registered
  * through `SparkSessionExtensions`).
  *
  * The composable formulation (`row_number().over(Window.partitionBy(key)
  * .orderBy(ord)) <= k`) must SORT every key group in full; this operator
  * prunes map-side with a bounded k-buffer per key — O(n log k) with no
  * global per-key sort buffer, which is the difference between "works" and
  * "spills" when one key holds a billion rows at 100 TB.
  *
  * Memory contract (the r6 verdict's no-spill fix): the partial pass's
  * per-key buffer map flushes whenever it holds more than a budgeted number
  * of rows — sound because the partial pass is a prune (a row dropped lost
  * to ≥ k same-key rows within one flushed chunk, so it can never reach the
  * global top-k; early emission only passes extra candidates through). The
  * final pass holds no map at all: it requires the child sorted by
  * (keys, order), so top-k per key is the first k rows of each group —
  * O(1) operator state, with the sort itself running in Spark's external
  * (spilling) sorter over the already-pruned ≤ k×mapPartitions rows per
  * key. Millions of distinct keys per partition — the `source_quota`
  * web-domain regime — now bound memory by budget, not by cardinality.
  *
  * Output equals the window formulation row-for-row (same total order,
  * deterministic when `order` is total), so the DuckDB window oracle doubles
  * as this operator's oracle.
  */
case class TopKPerKey(keys: Seq[Expression], order: Seq[SortOrder], k: Int,
    child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKey =
    copy(child = newChild)
}

object TopKPerKeyExec {
  /** Session conf key: max rows the partial pass buffers per partition
    * before flushing (keys × k bounded by this, not by key cardinality).
    */
  val PartialBufferRowsKey = "spark.graft.topk.partialBufferRows"
  val PartialBufferRowsDefault: Int = 1 << 21 // ~2M rows ≈ tens of MB

  /** The bounded per-key heap pass over one partition's rows, flushing the
    * whole buffer map whenever it exceeds `maxBufferedRows` rows. The
    * output may therefore hold more than k rows per key (one batch per
    * flush) — callers prune again downstream (the final pass), exactly the
    * partial-HashAggregate contract.
    */
  def boundedTopK(rows: Iterator[InternalRow], keyExprs: Seq[Expression],
      sortOrder: Seq[SortOrder], schema: Seq[Attribute], k: Int,
      maxBufferedRows: Int = Int.MaxValue): Iterator[InternalRow] = {
    val keyProj = UnsafeProjection.create(keyExprs, schema)
    val ordering = new LazilyGeneratedOrdering(sortOrder, schema)
    // PQ is a max-heap under `ordering` so the head is the current worst
    val reverse = ordering.reverse
    new Iterator[InternalRow] {
      // per key: a bounded buffer of the k smallest rows under `ordering`
      private val buffers = new java.util.HashMap[InternalRow,
        java.util.PriorityQueue[InternalRow]]()
      private var nBuffered = 0
      private var out: Iterator[InternalRow] = Iterator.empty

      private def drain(): Iterator[InternalRow] = {
        val all = new java.util.ArrayList[InternalRow](nBuffered)
        buffers.values.forEach { pq =>
          val arr = new Array[InternalRow](pq.size)
          var i = arr.length - 1
          while (!pq.isEmpty) { arr(i) = pq.poll(); i -= 1 }
          var j = 0
          while (j < arr.length) { all.add(arr(j)); j += 1 }
        }
        buffers.clear()
        nBuffered = 0
        import scala.jdk.CollectionConverters._
        all.iterator().asScala
      }

      private def fill(): Unit = {
        while (!out.hasNext && rows.hasNext) {
          var full = false
          while (!full && rows.hasNext) {
            val row = rows.next()
            val key = keyProj(row).copy()
            var pq = buffers.get(key)
            if (pq == null) {
              pq = new java.util.PriorityQueue[InternalRow](k + 1, reverse)
              buffers.put(key, pq)
            }
            if (pq.size < k) { pq.add(row.copy()); nBuffered += 1 }
            else if (ordering.compare(row, pq.peek()) < 0) {
              pq.poll(); pq.add(row.copy())
            }
            if (nBuffered >= maxBufferedRows) full = true
          }
          out = drain()
        }
      }

      override def hasNext: Boolean = { fill(); out.hasNext }
      override def next(): InternalRow = { fill(); out.next() }
    }
  }
}

/** Map-side partial top-k: prunes each input partition to ≤ k rows per key
  * per flushed chunk BEFORE the exchange, so the shuffle moves
  * min(n, k × partitions × flushes) rows per key instead of every row —
  * for one hot key holding a billion rows at 100 TB, that is the
  * difference between shuffling the key's whole corpus to one reducer and
  * shuffling k rows per map task. Rows dropped here lose to ≥ k same-key
  * rows in their own chunk, so they can never reach the global top-k; with
  * a total `order` (the operator's determinism contract)
  * partial∘final ≡ final. `maxBufferedRows` caps the buffer map at a row
  * budget independent of key cardinality (flush-and-reset, like a
  * spilling partial HashAggregate — except a prune may simply restart).
  */
case class TopKPerKeyPartialExec(keys: Seq[Expression], order: Seq[SortOrder],
    k: Int, maxBufferedRows: Int, child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output

  // runs on whatever partitioning the child has (and preserves it, so an
  // already-clustered child still skips the exchange above)
  override def outputPartitioning = child.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    val (keyExprs, sortOrder, schema, kk, budget) =
      (keys, order, child.output, k, maxBufferedRows)
    child.execute().mapPartitions(
      TopKPerKeyExec.boundedTopK(_, keyExprs, sortOrder, schema, kk, budget))
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyPartialExec =
    copy(child = newChild)
}

/** Final top-k per key over the exchange: requires the child clustered on
  * the keys AND sorted by (keys, order), so each key's rows arrive
  * adjacent and already ranked — the top-k is the group's first k rows,
  * emitted with one counter and the previous key as the only state. The
  * sort this requirement inserts runs in Spark's external sorter
  * (spill-safe) over partial-pruned input; no per-key hash map exists at
  * any cardinality.
  */
case class TopKPerKeyExec(keys: Seq[Expression], order: Seq[SortOrder], k: Int,
    child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output

  /** Shuffle all surviving rows of a key to one partition; the sorted
    * streaming pass then sees every candidate for its keys, grouped.
    */
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(keys) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(keys.map(SortOrder(_, Ascending)) ++ order)

  override def outputPartitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering

  override protected def doExecute(): RDD[InternalRow] = {
    val (keyExprs, schema, kk) = (keys, child.output, k)
    child.execute().mapPartitions { rows =>
      val keyProj = UnsafeProjection.create(keyExprs, schema)
      var cur: UnsafeRow = null
      var n = 0
      rows.filter { row =>
        val key = keyProj(row)
        if (cur == null || !(key == cur)) { cur = key.copy(); n = 1; true }
        else { n += 1; n <= kk }
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyExec =
    copy(child = newChild)
}

object TopKStrategy extends org.apache.spark.sql.execution.SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKey(keys, order, k, child) =>
      // partial (map-side prune) under final (post-shuffle sorted top-k) —
      // the exchange+sort the final's requirements insert land between
      // them; the partial's buffer budget comes from the session conf at
      // planning time
      val budget = org.apache.spark.sql.internal.SQLConf.get.getConfString(
        TopKPerKeyExec.PartialBufferRowsKey,
        TopKPerKeyExec.PartialBufferRowsDefault.toString).toInt
      TopKPerKeyExec(keys, order, k,
        TopKPerKeyPartialExec(keys, order, k, budget, planLater(child))) :: Nil
    case _ => Nil
  }
}

object TopKPerKey {
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
  import org.apache.spark.sql.catalyst.expressions.{Ascending, Descending}
  import org.apache.spark.sql.graftbridge.ColumnBridge

  /** Top-k per key as a DataFrame transform. `order` entries are
    * (columnName, "asc" | "desc"). Attributes are built unresolved and the
    * analyzer binds them against the child — Spark-4 `Column`s carry lazy
    * ColumnNode wrappers that custom nodes must not embed directly.
    */
  def topK(df: DataFrame, keys: Seq[String], order: Seq[(String, String)],
      k: Int): DataFrame = {
    // k = 0 would make the streaming final emit each group's first row
    // (the first-row-of-group probe fires before the counter check)
    require(k >= 1, s"topK: k must be >= 1, got $k")
    // idempotently register the planner strategy on this session
    val strategies = df.sparkSession.experimental.extraStrategies
    if (!strategies.contains(TopKStrategy))
      df.sparkSession.experimental.extraStrategies = strategies :+ TopKStrategy
    val keyExprs = keys.map(n => UnresolvedAttribute.quoted(n): Expression)
    val orderExprs = order.map { case (n, dir) =>
      SortOrder(UnresolvedAttribute.quoted(n),
        if (dir.equalsIgnoreCase("desc")) Descending else Ascending)
    }
    val plan = TopKPerKey(keyExprs, orderExprs, k,
      df.queryExecution.analyzed)
    ColumnBridge.ofRows(df.sparkSession, plan)
  }
}
