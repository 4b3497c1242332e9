package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** The two-pointer merge walk over two SORTED distinct long arrays
  * (hashed shingle sets, sorted neighbour lists) — no per-pair hash set,
  * no boxing. `count` gives |A∩B|, `values` the matches in ascending
  * order; the three sorted-walk expressions below are thin shells over
  * these two walks.
  */
object SortedWalkKernel {
  def count(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0; var j = 0; var ni = 0
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { ni += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    ni
  }

  def values(a: ArrayData, b: ArrayData): ArrayData = {
    val na = a.numElements()
    val nb = b.numElements()
    val buf = new Array[Long](math.min(na, nb))
    var i = 0; var j = 0; var k = 0
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { buf(k) = x; k += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(buf, k))
  }

  def jaccard(a: ArrayData, b: ArrayData): Double = {
    val ni = count(a, b)
    ni.toDouble / (a.numElements() + b.numElements() - ni).toDouble
  }

  def overlap(a: ArrayData, b: ArrayData): Double =
    count(a, b).toDouble / math.min(a.numElements(), b.numElements()).toDouble
}

/** Shared input gate for the three merge-walk expressions below: the walks
  * read elements via `getLong` and never dedup, so their documented
  * equivalences (to the `array_intersect` formulations) hold ONLY for
  * sorted-distinct non-null arrays. Nullable ELEMENTS are rejected at
  * analysis time — a `containsNull=true` array would read null slots as
  * garbage longs and diverge silently (sortedness/distinctness are value
  * properties no type check can see; the Scaladoc carries that half of the
  * contract). Every in-repo producer (`array_sort(transform(_, xxhash64))`,
  * the triangle census's sorted `collect_list`) types containsNull=false
  * already; this gate is for the future caller that doesn't.
  */
abstract class SortedWalk extends BinaryKernel {
  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(LongType, containsNull) => !containsNull
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<bigint> inputs with non-nullable elements " +
        s"(the merge walk reads primitive longs and cannot represent null), " +
        s"got ${left.dataType.simpleString} and ${right.dataType.simpleString}. " +
        s"Parquet-sourced arrays are often typed element-nullable even when " +
        s"null-free: rebuild the column with a producer that types elements " +
        s"non-null, e.g. array_sort(transform(col, x -> xxhash64(x))) or " +
        s"filter(col, x -> x IS NOT NULL) followed by such a transform")
  }
}

/** Jaccard similarity of two SORTED long arrays (hashed shingle sets).
  *
  * `array_intersect` on string/long arrays builds a boxed HashSet per pair;
  * at 1.9M verified pairs (sf0.1) that was ~6 µs/pair and the dedup
  * pipeline's dominant cost. The merge walk is ~100 ns/pair and exactly
  * reproduces |A∩B| for distinct-element inputs, so
  * `jac = ni / (na + nb − ni)` is the same int/int double as the
  * `array_intersect` formulation and the DuckDB oracle (SURVEY §6).
  */
case class SortedJaccard(left: Expression, right: Expression)
    extends SortedWalk {

  override def dataType: DataType = DoubleType

  protected def kernel = "graft.functions.SortedWalkKernel.jaccard"

  override def nullSafeEval(a: Any, b: Any): Any =
    SortedWalkKernel.jaccard(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "sorted_jaccard"
}

/** Overlap coefficient (Szymkiewicz–Simpson: |A∩B| / min(|A|,|B|)) of two
  * SORTED long arrays — the same merge-walk count as [[SortedJaccard]]
  * with the containment denominator; reproduces the
  * `array_intersect`/`least` formulation exactly for distinct-element
  * inputs (int/int IEEE division, SURVEY §6).
  */
case class SortedOverlap(left: Expression, right: Expression)
    extends SortedWalk {

  override def dataType: DataType = DoubleType

  protected def kernel = "graft.functions.SortedWalkKernel.overlap"

  override def nullSafeEval(a: Any, b: Any): Any =
    SortedWalkKernel.overlap(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "sorted_overlap"
}

/** Intersection VALUES of two SORTED distinct long arrays via the same
  * merge walk — the matches in ascending order in a primitive long buffer
  * (no boxed HashSet, no post-sort). For sorted-distinct inputs this is
  * exactly `sort_array(array_intersect(a, b))`: `array_intersect` keeps
  * the first array's order and dedups, and a sorted-distinct first array
  * makes that output already sorted and duplicate-free. Built for the
  * triangle census (`operators/Triangles.scala`), whose per-edge
  * N⁺(u) ∩ N⁺(v) probe runs once per oriented edge — the boxed HashSet
  * `array_intersect` builds per ROW was the intersect stage's dominant
  * allocation at the 300× decade.
  */
case class SortedIntersect(left: Expression, right: Expression)
    extends SortedWalk {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  protected def kernel = "graft.functions.SortedWalkKernel.values"

  override def nullSafeEval(a: Any, b: Any): Any =
    SortedWalkKernel.values(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "sorted_intersect"
}

object JaccardFunctions {
  import org.apache.spark.sql.graftbridge.ColumnBridge

  /** Jaccard of two sorted long-array columns. */
  def sortedJaccard(a: Column, b: Column): Column =
    ColumnBridge.column(SortedJaccard(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Overlap coefficient of two sorted long-array columns. */
  def sortedOverlap(a: Column, b: Column): Column =
    ColumnBridge.column(SortedOverlap(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Sorted intersection values of two sorted-distinct long-array
    * columns (≡ `sort_array(array_intersect(a, b))` on such inputs).
    */
  def sortedIntersect(a: Column, b: Column): Column =
    ColumnBridge.column(SortedIntersect(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
}
