package graft.functions

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** The term-frequency loop behind `term_freqs`
  * ([[VectorExpressions.TermFreqs]]), shared by codegen, interpreted eval
  * and the UDF fallback: one left-to-right pass over the UTF-8 bytes that
  * counts the tokens and each term's occurrences among them, with no
  * token array and no per-token string.
  *
  * Token rule: a token is a maximal run of bytes outside the six ASCII
  * whitespace bytes {0x20, 0x09, 0x0A, 0x0B, 0x0C, 0x0D}. On valid UTF-8
  * that is exactly [[graft.operators.TextAnalysis.tokens]]
  * (`split(trim(t), "\\s+")` minus empty strings): Java's `\s` is those
  * six characters, `trim` strips only 0x20, and a UTF-8 multibyte
  * sequence never holds a byte below 0x80 — so U+00A0, U+2003 and U+3000
  * stay token characters on both. A term is matched by byte equality, so
  * an empty term or one holding whitespace never matches.
  */
object TextOps {

  /** `[dl, tf_0 … tf_{m-1}]` of `text` (codegen-callable). */
  def termFreqs(text: UTF8String, terms: Array[Array[Byte]]): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(
      counts(text.getBaseObject, text.getBaseOffset, text.numBytes, terms))

  /** [[termFreqs]] over a JVM string (UDF fallback path). */
  def termFreqs(text: String, terms: Array[Array[Byte]]): Array[Int] = {
    val bytes = text.getBytes(UTF_8)
    counts(bytes, Platform.BYTE_ARRAY_OFFSET, bytes.length, terms)
  }

  private def counts(base: AnyRef, offset: Long, n: Int,
                     terms: Array[Array[Byte]]): Array[Int] = {
    val out = new Array[Int](terms.length + 1)
    var i = 0
    while (i < n) {
      if (isSpace(Platform.getByte(base, offset + i))) i += 1
      else {
        val start = i
        while (i < n && !isSpace(Platform.getByte(base, offset + i))) i += 1
        out(0) += 1
        var j = 0
        while (j < terms.length) {
          if (sameBytes(base, offset + start, i - start, terms(j))) out(j + 1) += 1
          j += 1
        }
      }
    }
    out
  }

  private def isSpace(b: Byte): Boolean = b == 0x20 || (b >= 0x09 && b <= 0x0D)

  private def sameBytes(base: AnyRef, at: Long, len: Int, term: Array[Byte]): Boolean =
    term.length == len && {
      var k = 0
      while (k < len && Platform.getByte(base, at + k) == term(k)) k += 1
      k == len
    }
}
