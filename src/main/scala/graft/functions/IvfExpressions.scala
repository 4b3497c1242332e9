package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native IVF coarse-quantizer kernels: cell argmax and probe selection
  * against a small centroid matrix held as a plan REFERENCE OBJECT, not as
  * inlined literal vectors.
  *
  * The composable formulation — `array_max(array(struct(cosine(vec, lit(c)),
  * …) × nCells))` — embeds nCells × dims float literals into the expression
  * tree twice over. At 16 cells × 64 dims that blows the whole-stage-codegen
  * size limits as soon as the projection shares a stage with a join, and the
  * whole corpus scan silently drops to interpreted eval with per-row
  * struct/array allocation — measured 3.8 ms/row at the r8 100× scale probe
  * (the stage went from ~1 s isolated to 760 CPU-seconds inside the join
  * stage). These kernels are one static call per row instead, over
  * centroids read from a reference object, not literals.
  *
  * Numeric contract: per cell, the affinity is EXACTLY [[CosineKernel]]'s
  * left-fold, so results are bit-identical to the `graft_cosine` column
  * formulation and to the DuckDB oracle's `list_reduce` replay. Ties
  * (equal affinity) go to the LOWEST cell id: cells are scanned in
  * ascending id order and only a strictly greater affinity displaces,
  * which equals the oracle's `ORDER BY aff DESC, cell ASC`. A NaN affinity
  * (zero-norm or empty vector) ranks GREATEST — normalized to +∞ before
  * comparison (a real cosine is ≤ 1, so the mapping is unambiguous) —
  * because that is how both Spark's sort order and DuckDB's ORDER BY …
  * DESC place NaN, so the kernels stay order-identical to the
  * window/oracle formulations even on degenerate vectors.
  */
object IvfCellKernel {
  /** CosineKernel's fold of the widened vector `x` against centroid `c`,
    * NaN normalized to +∞.
    */
  private def affinity(x: Array[Double], n: Int, c: Array[Double]): Double = {
    val a = CosineKernel.fold(x, c, math.min(n, c.length))
    if (a != a) Double.PositiveInfinity else a
  }

  /** Cell id of the max-affinity centroid (ties → lowest cell id). */
  def nearest(vec: ArrayData, isFloat: Boolean, cents: Array[Array[Double]],
      cellIds: Array[Long]): Long = {
    val n = vec.numElements()
    val x = CosineKernel.widen(vec, isFloat, n)
    var best = Double.NegativeInfinity
    var bestCell = cellIds(0)
    var c = 0
    while (c < cents.length) {
      val aff = affinity(x, n, cents(c))
      if (aff > best) { best = aff; bestCell = cellIds(c) }
      c += 1
    }
    bestCell
  }

  /** The `nprobe` highest-affinity cell ids, ordered (aff desc, cell asc).
    * Insertion into a bounded sorted pair of arrays; only strictly greater
    * affinity displaces, so equal affinities keep ascending cell order.
    */
  def probe(vec: ArrayData, isFloat: Boolean, cents: Array[Array[Double]],
      cellIds: Array[Long], nprobe: Int): ArrayData = {
    val n = vec.numElements()
    val x = CosineKernel.widen(vec, isFloat, n)
    val np = math.min(nprobe, cents.length)
    val ba = Array.fill(np)(Double.NegativeInfinity)
    val bc = new Array[Long](np)
    var filled = 0
    var c = 0
    while (c < cents.length) {
      val aff = affinity(x, n, cents(c))
      var pos = filled
      while (pos > 0 && aff > ba(pos - 1)) pos -= 1
      if (pos < np) {
        var j = math.min(filled, np - 1)
        while (j > pos) { ba(j) = ba(j - 1); bc(j) = bc(j - 1); j -= 1 }
        ba(pos) = aff; bc(pos) = cellIds(c)
        if (filled < np) filled += 1
      }
      c += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(bc, filled))
  }
}

abstract class IvfKernel extends UnaryKernel {
  def cents: Array[Array[Double]]
  def cellIds: Array[Long]

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      if (cents.length == cellIds.length && cents.nonEmpty)
        TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs one cell id per centroid, got " +
          s"${cents.length} centroids / ${cellIds.length} ids")
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float>/array<double> input, got " +
        dt.simpleString)
  }

  @transient protected lazy val elemIsFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override protected def kernelArgs(ctx: CodegenContext): Seq[String] = Seq(
    elemIsFloat.toString,
    ctx.addReferenceObj("cents", cents, "double[][]"),
    ctx.addReferenceObj("cellIds", cellIds, "long[]"))
}

/** Cell id of the max-affinity centroid ([[IvfCellKernel.nearest]]). */
case class IvfNearestCell(child: Expression, cents: Array[Array[Double]],
    cellIds: Array[Long]) extends IvfKernel {

  override def dataType: DataType = LongType

  protected def kernel = "graft.functions.IvfCellKernel.nearest"

  override def nullSafeEval(input: Any): Any =
    IvfCellKernel.nearest(input.asInstanceOf[ArrayData], elemIsFloat, cents,
      cellIds)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "graft_ivf_nearest_cell"
}

/** The `nprobe` highest-affinity cell ids — the query-side probe list
  * ([[IvfCellKernel.probe]]).
  */
case class IvfProbeCells(child: Expression, cents: Array[Array[Double]],
    cellIds: Array[Long], nprobe: Int) extends IvfKernel {
  require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  protected def kernel = "graft.functions.IvfCellKernel.probe"
  override protected def kernelArgs(ctx: CodegenContext): Seq[String] =
    super.kernelArgs(ctx) :+ nprobe.toString

  override def nullSafeEval(input: Any): Any =
    IvfCellKernel.probe(input.asInstanceOf[ArrayData], elemIsFloat, cents,
      cellIds, nprobe)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "graft_ivf_probe_cells"
}

object IvfFunctions {
  import org.apache.spark.sql.graftbridge.ColumnBridge

  def nearestCell(vec: Column, cents: Array[Array[Double]],
      cellIds: Array[Long]): Column =
    ColumnBridge.column(IvfNearestCell(
      ColumnBridge.expression(vec), cents, cellIds))

  def probeCells(vec: Column, cents: Array[Array[Double]],
      cellIds: Array[Long], nprobe: Int): Column =
    ColumnBridge.column(IvfProbeCells(
      ColumnBridge.expression(vec), cents, cellIds, nprobe))
}
