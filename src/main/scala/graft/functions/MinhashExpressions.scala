package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** One-pass k-slot MinHash kernel.
  *
  * The composable formulation — explode(shingles) → xxhash64 → groupBy(id)
  * with k min-aggregates — shuffles one row per shingle and drags a k-column
  * aggregation buffer through codegen (slow to compile, heavy to run). This
  * kernel folds the whole signature per document inside one narrow
  * expression: for each shingle, hash once, update k running minima. No
  * explode, no shuffle; at 100 TB signature computation is a pure map.
  *
  * Contract (mirror-exact with the aggregate formulation it replaces):
  * shingle hash = Spark `xxhash64` (seed 42); slot i = min over shingles of
  * `a_i * h + b_i` in wrap-around 64-bit arithmetic, with (a_i, b_i) the
  * fixed splitmix64-derived odd-multiplier constants (no RNG — replayable).
  */
object MinHashKernel {

  /** Deterministic affine-map constants, identical across JVMs/executors. */
  def mixers(k: Int): Array[(Long, Long)] = {
    var state = 0x9E3779B97F4A7C15L
    def next(): Long = {
      state += 0x9E3779B97F4A7C15L
      var z = state
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    Array.fill(k)((next() | 1L, next()))
  }

  private val cache = new java.util.concurrent.ConcurrentHashMap[Int, (Array[Long], Array[Long])]()
  private def constants(k: Int): (Array[Long], Array[Long]) =
    cache.computeIfAbsent(k, kk => {
      val m = mixers(kk)
      (m.map(_._1), m.map(_._2))
    })

  def compute(shingles: ArrayData, k: Int): ArrayData = {
    val (a, b) = constants(k)
    val out = new Array[Long](k)
    java.util.Arrays.fill(out, Long.MaxValue)
    val n = shingles.numElements()
    var i = 0
    while (i < n) {
      val h = XXH64.hashUTF8String(shingles.getUTF8String(i), 42L)
      var j = 0
      while (j < k) {
        val v = a(j) * h + b(j)
        if (v < out(j)) out(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }
}

case class MinHashSlots(child: Expression, k: Int) extends UnaryKernel {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) if k >= 1 => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"minhash_slots requires array<string> and k >= 1, got ${t.simpleString}, k=$k")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    MinHashKernel.compute(input.asInstanceOf[ArrayData], k)

  protected def kernel = "graft.functions.MinHashKernel.compute"
  override protected def kernelArgs(ctx: CodegenContext): Seq[String] =
    Seq(k.toString)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "minhash_slots"
}

object MinhashFunctions {
  import org.apache.spark.sql.graftbridge.ColumnBridge

  /** k-slot MinHash signature (array<long>) of a shingle-array column. */
  def minhashSlots(shingles: Column, k: Int): Column =
    ColumnBridge.column(MinHashSlots(ColumnBridge.expression(shingles), k))
}
