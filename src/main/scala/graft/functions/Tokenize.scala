package graft.functions

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Offset-preserving whitespace tokenizer (SURVEY.md §2.2 P1): each token
 * carries `(text, i, idx, idx_end)` — token index and char start/end — the
 * reference tokenizer's offset contract
 * (`/root/reference/relik/inference/data/tokenizers/spacy_tokenizer.py:123-194`,
 * whitespace-rule mode). Offsets refer to UTF-16 positions in the ORIGINAL
 * string (nothing is normalized away), so char↔token span conversion
 * (`graft.spans.Spans`) is exact and reversible.
 */
object TokenizeKernels {

  val tokenType: StructType = StructType(Seq(
    StructField("text", StringType, nullable = false),
    StructField("i", IntegerType, nullable = false),
    StructField("idx", IntegerType, nullable = false),
    StructField("idx_end", IntegerType, nullable = false)))

  def tokenizeOffsets(s: UTF8String): ArrayData = {
    val str = s.toString
    val n = str.length
    val out = new ArrayBuffer[InternalRow]()
    var i = 0
    var tok = 0
    while (i < n) {
      while (i < n && Character.isWhitespace(str.charAt(i))) i += 1
      if (i < n) {
        val start = i
        while (i < n && !Character.isWhitespace(str.charAt(i))) i += 1
        out += new GenericInternalRow(Array[Any](
          UTF8String.fromString(str.substring(start, i)),
          tok, start, i))
        tok += 1
      }
    }
    new GenericArrayData(out.toArray)
  }
}
