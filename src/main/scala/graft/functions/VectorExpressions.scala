package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** The cosine fold, written once. Each embedding is first widened into
  * a per-thread double buffer (`widen`: the float/double choice is made
  * once per vector, and the per-element ArrayData reads stay out of the
  * fold); `fold` then runs over two double vectors. [[CosineSim]] widens
  * both sides of a pair; the IVF affinity ([[IvfCellKernel]]) widens the
  * row once and folds it against every centroid row.
  *
  * Numeric contract (SURVEY §6): each accumulator (dot, ‖a‖², ‖b‖²) is a
  * left-fold over exact float→double products, and the result is
  * `dot / (sqrt(na) * sqrt(nb))` — term-for-term the same IEEE operation
  * sequence as the `aggregate`-based fold and the DuckDB oracle's
  * `list_reduce`, so all three produce bit-identical doubles — for arrays
  * with NO null elements. A null ELEMENT contributes 0.0 here (totality on
  * every ArrayData implementation) while DuckDB arithmetic propagates NULL
  * through the fold, so the engines diverge on a vector that actually
  * contains a null slot; the oracle-compared paths read parquet embedding
  * columns written with non-null elements, where the bit-identical claim
  * holds exactly.
  */
object CosineKernel {
  // two per-thread buffers, one per side of a pair; reused across rows
  private val scratch = new ThreadLocal[Array[Array[Double]]] {
    override def initialValue(): Array[Array[Double]] =
      Array(new Array[Double](0), new Array[Double](0))
  }

  /** The first `n` elements of `v` widened to double (exact) in per-thread
    * buffer `side`. A null ELEMENT reads 0.0 — explicitly, on every
    * ArrayData implementation: UnsafeArrayData already returns 0.0 for a
    * null slot's primitive read, but GenericArrayData would NPE on the
    * unboxing. The float/double choice is made once, outside the loop.
    */
  private[functions] def widen(v: ArrayData, isFloat: Boolean, n: Int,
      side: Int = 0): Array[Double] = {
    val bufs = scratch.get()
    if (bufs(side).length < n) bufs(side) = new Array[Double](n)
    val buf = bufs(side)
    var i = 0
    if (isFloat) while (i < n) {
      buf(i) = if (v.isNullAt(i)) 0.0 else v.getFloat(i).toDouble; i += 1
    }
    else while (i < n) {
      buf(i) = if (v.isNullAt(i)) 0.0 else v.getDouble(i); i += 1
    }
    buf
  }

  /** The fold over the first `n` elements of two widened vectors. */
  private[functions] def fold(x: Array[Double], y: Array[Double], n: Int): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val a = x(i); val b = y(i)
      dot += a * b; na += a * a; nb += b * b
      i += 1
    }
    dot / (java.lang.Math.sqrt(na) * java.lang.Math.sqrt(nb))
  }

  def cosine(a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    fold(widen(a, aFloat, n), widen(b, bFloat, n, side = 1), n)
  }
}

/** Cosine similarity of two embedding arrays ([[CosineKernel]]).
  *
  * The composable route (`zip_with` + `aggregate`) evaluates higher-order
  * lambdas per element per row — interpreted, allocation-heavy, and outside
  * whole-stage codegen. This expression is one static kernel call inside
  * the generated stage, which is what a 100 TB similarity join spends its
  * time in.
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryKernel {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_cosine requires array<float>/array<double> inputs, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  override def dataType: DataType = DoubleType

  private def isFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType
  @transient private lazy val aFloat = isFloat(left)
  @transient private lazy val bFloat = isFloat(right)

  protected def kernel = "graft.functions.CosineKernel.cosine"
  override protected def kernelArgs(ctx: CodegenContext): Seq[String] =
    Seq(aFloat.toString, bFloat.toString)

  override def nullSafeEval(a: Any, b: Any): Any =
    CosineKernel.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      aFloat, bFloat)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_cosine"
}

object VectorFunctions {
  import org.apache.spark.sql.graftbridge.ColumnBridge

  /** Column-level cosine similarity backed by [[CosineSim]]. */
  def cosineSim(a: Column, b: Column): Column =
    ColumnBridge.column(CosineSim(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
}
