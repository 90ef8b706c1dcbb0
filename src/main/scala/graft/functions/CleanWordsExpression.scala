package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** The reference's `clean_words` map function as one pass over a row's
  * UTF-8 bytes, invoked once per row from generated code.
  *
  * The composed form — `filter(split(regexp_replace(regexp_replace(text,
  * "\n", " "), punct, ""), " +"), t => t.rlike("\\S"))` — decoded every
  * row to a `java.lang.String` twice, ran a regex split and one regex
  * match per token, and `filter` (a higher-order function) has no
  * codegen, so the whole subtree ran interpreted. Every separator,
  * deleted char and whitespace test of `clean_words` is ASCII, and an
  * ASCII byte never occurs inside a multi-byte UTF-8 sequence, so the
  * same tokens fall out of a byte scan:
  *   - `\n` and runs of spaces separate tokens;
  *   - the 32 `string.punctuation` bytes are deleted (`"mid-word"` →
  *     `midword`);
  *   - a token is kept iff it holds a byte outside Java's `\s` set
  *     (space and `\n` are separators, so only `\t \x0B \f \r` remain).
  * Tokens are zero-copy slices of one buffer per row. Ill-formed UTF-8
  * is first repaired with U+FFFD by the same String decode the composed
  * form ran (`TokenizerEquivalenceSpec` pins both against it).
  */
object CleanWordsUtil {
  private final val Keep = 0
  private final val Blank = 1 // \t \x0B \f \r: kept, but not a token alone
  private final val Drop = 2  // string.punctuation
  private final val Sep = 3   // space, \n

  private val Class: Array[Byte] = {
    val c = new Array[Byte](256)
    Seq(0x09, 0x0b, 0x0c, 0x0d).foreach(c(_) = Blank)
    // ASCII 33-47, 58-64, 91-96, 123-126: exactly `string.punctuation`
    ((33 to 47) ++ (58 to 64) ++ (91 to 96) ++ (123 to 126)).foreach(c(_) = Drop)
    Seq(0x20, 0x0a).foreach(c(_) = Sep)
    c
  }

  def cleanWords(text: UTF8String): ArrayData = {
    // ill-formed rows only: Java's decoder, as the regex form used on
    // every row; `makeValid` emits a different number of U+FFFDs for
    // some sequences (`ed a0`: one, Java's decoder two)
    val s = if (text.isValid) text else UTF8String.fromString(text.toString)
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes
    val buf = new Array[Byte](n)
    var out = new Array[AnyRef](8)
    var nOut = 0
    var len = 0        // bytes kept in buf
    var start = 0      // buf offset of the open token
    var solid = false  // the open token holds a non-\s byte
    var i = 0
    while (i <= n) {
      val b = if (i < n) Platform.getByte(base, off + i) else ' '.toByte
      val c = Class(b & 0xff)
      if (c == Sep) {
        if (solid) {
          if (nOut == out.length) out = java.util.Arrays.copyOf(out, nOut * 2)
          out(nOut) = UTF8String.fromBytes(buf, start, len - start)
          nOut += 1
        }
        start = len
        solid = false
      } else if (c != Drop) {
        buf(len) = b
        len += 1
        if (c == Keep) solid = true
      }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(out, nOut))
  }
}

object CleanWordsExpression {

  /** `clean_words` over a string column: array<string> of its tokens,
    * null for a null row. */
  case class CleanWords(child: Expression) extends UnaryExpression {

    override def dataType: DataType = ArrayType(StringType, containsNull = false)

    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
      child.dataType match {
        case _: StringType =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case other =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
            s"clean_words needs string, got $other")
      }
    }

    override def nullSafeEval(text: Any): Any =
      CleanWordsUtil.cleanWords(text.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev,
        c => s"graft.functions.CleanWordsUtil.cleanWords($c)")

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }
}
