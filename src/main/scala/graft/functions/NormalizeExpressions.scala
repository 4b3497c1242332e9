package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Unicode NFC canonicalization + ASCII-control cleanup — the first stage
  * every web-scale text pipeline runs before hashing/deduplicating text
  * (the same byte sequence can arrive composed or decomposed; fingerprints
  * built on raw bytes split what is visually one document).
  *
  * Contract (mirror-exact with the DuckDB oracle, SURVEY §6):
  *   1. NFC-normalize (canonical composition, `java.text.Normalizer`;
  *      DuckDB replays with `nfc_normalize`).
  *   2. Every char in `[\x00-\x20\x7F]` (ASCII controls, space, DEL) is
  *      whitespace; runs collapse to one space; leading/trailing trimmed.
  *      (Non-ASCII Unicode spaces are deliberately out of contract — NFC
  *      never produces them from ASCII and RE2/Java regex class semantics
  *      would have to agree on `\p{Z}`, which they don't.)
  *
  * Scale shape: pure narrow map, codegen'd, zero shuffle — linear to any
  * corpus size. The reference has no text surface; this extends its
  * map-phase cleanup stage (`EmbulkMapReduce.java` mapper) to text.
  */
object NfcCleanKernel {
  def compute(input: UTF8String): UTF8String = {
    val nfc = java.text.Normalizer.normalize(
      input.toString, java.text.Normalizer.Form.NFC)
    val n = nfc.length
    val sb = new java.lang.StringBuilder(n)
    var pendingSpace = false
    var i = 0
    while (i < n) {
      val c = nfc.charAt(i)
      if (c <= ' ' || c == '\u007F') {
        if (sb.length > 0) pendingSpace = true // leading ws drops
      } else {
        if (pendingSpace) { sb.append(' '); pendingSpace = false }
        sb.append(c)
      }
      i += 1
    }
    UTF8String.fromString(sb.toString) // trailing ws never appended
  }
}

case class NfcClean(child: Expression) extends UnaryKernel {

  override def dataType: DataType = StringType

  override def nullSafeEval(input: Any): Any =
    NfcCleanKernel.compute(input.asInstanceOf[UTF8String])

  protected def kernel = "graft.functions.NfcCleanKernel.compute"

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "nfc_clean"
}

/** The fingerprint normalization after lower-casing, in one byte scan:
  * keep `[a-z0-9]` bytes, turn each run of any other bytes into one space,
  * and never emit a leading or trailing space. Byte-identical to
  * `trim(regexp_replace(regexp_replace(t, '[^a-z0-9]+', ' '), '\s+', ' '))`:
  * every byte of a multi-byte UTF-8 character (and every invalid byte) is
  * >= 0x80, so a character the regex replaces is exactly a run of bytes
  * the scan replaces; after the first replace the only whitespace left is
  * single spaces between kept runs, so the `\s+` pass changes nothing.
  * The output is ASCII.
  */
object NormalizeTextKernel {
  def compute(input: UTF8String): UTF8String = {
    val bytes = input.getBytes
    val out = new Array[Byte](bytes.length)
    var len = 0
    var gap = false
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i)
      if ((b >= 'a' && b <= 'z') || (b >= '0' && b <= '9')) {
        if (gap) { out(len) = ' '; len += 1; gap = false }
        out(len) = b
        len += 1
      } else if (len > 0) gap = true // a leading run drops
      i += 1
    }
    UTF8String.fromBytes(out, 0, len) // a trailing run never emits
  }
}

/** [[NormalizeTextKernel]] over its child; `TextAnalysis.normalize` builds
  * it over Spark's own `lower(text)`, so case mapping stays Spark's.
  */
case class NormalizeText(child: Expression) extends UnaryKernel {

  override def dataType: DataType = StringType

  override def nullSafeEval(input: Any): Any =
    NormalizeTextKernel.compute(input.asInstanceOf[UTF8String])

  protected def kernel = "graft.functions.NormalizeTextKernel.compute"

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "normalize_text"
}

object NormalizeFunctions {
  import org.apache.spark.sql.graftbridge.ColumnBridge

  /** NFC-compose + control-strip + whitespace-collapse a text column. */
  def nfcClean(text: Column): Column =
    ColumnBridge.column(NfcClean(ColumnBridge.expression(text)))

  /** Fingerprint normalization: [[NormalizeText]] over `lower(text)`. */
  def normalize(text: Column): Column =
    ColumnBridge.column(NormalizeText(ColumnBridge.expression(
      org.apache.spark.sql.functions.lower(text))))
}
