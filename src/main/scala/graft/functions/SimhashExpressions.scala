package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, XXH64}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One-pass 64-bit SimHash kernel.
  *
  * The composable formulation — explode(tokens) → xxhash64 → 64 per-bit
  * counting aggregates — shuffles one row per token and keeps a 64-column
  * aggregation buffer per document. This kernel computes the same
  * fingerprint per document in a single narrow pass: no explode, no
  * shuffle, no aggregation; at 100 TB the simhash stage becomes a pure
  * map over the scan.
  *
  * Contract (mirror-exact with the aggregate formulation it replaces):
  * input is normalized single-spaced text; tokens = split on space (an
  * empty input is one empty token); token hash = Spark `xxhash64` (seed
  * 42); bit b of the result is set iff strictly more than half the tokens
  * (duplicates counted) have bit b set.
  */
object SimHash64Kernel {
  def compute(input: UTF8String): Long = {
    val bytes = input.getBytes
    val counts = new Array[Int](64)
    var n = 0
    var start = 0
    var i = 0
    val len = bytes.length
    while (i <= len) {
      if (i == len || bytes(i) == ' ') {
        val tok = UTF8String.fromBytes(bytes, start, i - start)
        val h = XXH64.hashUTF8String(tok, 42L)
        var b = 0
        while (b < 64) {
          counts(b) += ((h >>> b) & 1L).toInt
          b += 1
        }
        n += 1
        start = i + 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (counts(b) * 2 > n) out |= (1L << b)
      b += 1
    }
    out
  }
}

case class SimHash64(child: Expression) extends UnaryKernel {

  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any =
    SimHash64Kernel.compute(input.asInstanceOf[UTF8String])

  protected def kernel = "graft.functions.SimHash64Kernel.compute"

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "simhash64"
}

object SimhashFunctions {
  import org.apache.spark.sql.graftbridge.ColumnBridge

  /** 64-bit SimHash of a (normalized) text column. */
  def simhash64(text: Column): Column =
    ColumnBridge.column(SimHash64(ColumnBridge.expression(text)))
}
