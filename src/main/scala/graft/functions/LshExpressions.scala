package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Deterministic Rademacher (±1) hyperplane weights for sign-LSH.
  *
  * Plane p, dimension d gets the sign bit of `splitmix64(p*dims + d)` —
  * constants, not RNG, so signatures are reproducible across JVMs,
  * executors, and reruns (the same derandomization used by the minhash
  * affine maps).
  */
object LshPlanes {
  def splitmix(x0: Long): Long = {
    var z = x0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Flat row-major weight matrix for global planes [0, totalPlanes). */
  def weights(totalPlanes: Int, dims: Int): Array[Double] =
    Array.tabulate(totalPlanes * dims) { i =>
      val p = i / dims
      val d = i % dims
      if (splitmix(p.toLong * dims + d) >= 0L) 1.0 else -1.0
    }
}

/** One-pass multi-table sign-LSH bucket kernel.
  *
  * Emits `tables` bucket ids per vector; table t's bucket packs the sign
  * bits of planes [t*nPlanes, (t+1)*nPlanes). The composable formulation —
  * one `zip_with`+`aggregate` lambda pair per plane — would put
  * tables×nPlanes (hundreds of) higher-order-lambda subtrees into one
  * projection, which the Catalyst optimizer chokes on (see the engine
  * notes on nested-lambda trees); this kernel is a single fused loop over
  * a static weight matrix, so the whole signature stage is one narrow
  * codegen'd map — at 100 TB, LSH banding costs one scan.
  */
object LshBucketsKernel {
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Double]]()

  private def weightsFor(totalPlanes: Int, dims: Int): Array[Double] =
    cache.computeIfAbsent((totalPlanes, dims),
      _ => LshPlanes.weights(totalPlanes, dims))

  // per-thread vector scratch: the element copy below runs once per call,
  // so the tables×nPlanes×dims hot loop reads a flat double[] instead of
  // paying an isNullAt + float/double virtual dispatch per element (the r5
  // advice regression); same ThreadLocal idiom as the Levenshtein kernel
  private val scratch = new ThreadLocal[Array[Double]] {
    override def initialValue(): Array[Double] = new Array[Double](0)
  }
  private def scratchFor(n: Int): Array[Double] = {
    var a = scratch.get()
    if (a.length < n) { a = new Array[Double](n); scratch.set(a) }
    a
  }

  def compute(vec: ArrayData, isFloat: Boolean, nPlanes: Int, tables: Int,
      dims: Int): ArrayData = {
    val w = weightsFor(nPlanes * tables, dims)
    val n = math.min(vec.numElements(), dims)
    // widen float→double (exact); ±1.0 multiply is exact, and the
    // left-fold order makes the projection value deterministic.
    // Null ELEMENTS read as 0.0 explicitly — UnsafeArrayData's
    // primitive read already yields 0.0 for a null slot, but
    // GenericArrayData would NPE; pinning null→0.0 makes the kernel
    // total on every ArrayData implementation (same contract as
    // CosineSim).
    val v = scratchFor(n)
    var i = 0
    while (i < n) {
      v(i) = if (vec.isNullAt(i)) 0.0
        else if (isFloat) vec.getFloat(i).toDouble else vec.getDouble(i)
      i += 1
    }
    val out = new Array[Long](tables)
    var t = 0
    var pGlobal = 0
    while (t < tables) {
      var bucket = 0L
      var p = 0
      while (p < nPlanes) {
        val base = pGlobal * dims
        var s = 0.0
        var d = 0
        while (d < n) {
          s += v(d) * w(base + d)
          d += 1
        }
        if (s >= 0.0) bucket |= (1L << p)
        p += 1
        pGlobal += 1
      }
      out(t) = bucket
      t += 1
    }
    new GenericArrayData(out)
  }
}

case class LshBuckets(child: Expression, nPlanes: Int, tables: Int, dims: Int)
    extends UnaryKernel {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"lsh_buckets requires array<float>/array<double>, got ${other.simpleString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  private def elemIsFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(input: Any): Any =
    LshBucketsKernel.compute(input.asInstanceOf[ArrayData], elemIsFloat,
      nPlanes, tables, dims)

  protected def kernel = "graft.functions.LshBucketsKernel.compute"
  override protected def kernelArgs(ctx: CodegenContext): Seq[String] =
    Seq(elemIsFloat, nPlanes, tables, dims).map(_.toString)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "lsh_buckets"
}

object LshFunctions {
  import org.apache.spark.sql.graftbridge.ColumnBridge

  /** `tables` sign-LSH bucket ids (array<long>) of an embedding column. */
  def lshBuckets(vec: Column, nPlanes: Int, tables: Int, dims: Int): Column =
    ColumnBridge.column(LshBuckets(
      ColumnBridge.expression(vec), nPlanes, tables, dims))
}
