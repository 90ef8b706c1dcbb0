package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** Native expression for set-intersection cardinality over bitmap-encoded
  * feature sets (array<bigint> of 64-bit words).
  *
  * When a corpus' feature vocabulary is small (dense), per-document
  * bitmaps turn exact pairwise Jaccard from a postings self-join — join
  * volume Σ_f df_f², catastrophic on dense features — into popcount(A&B)
  * per candidate pair: a few dozen fused ALU ops inside whole-stage
  * codegen. See the bitmap pair scan of Dedup.overlapPairs for the operator
  * built on this.
  */
object BitmapExpressions {

  /** popcount(a & b) over two array<bigint> bitmaps. Extra words on the
    * longer side are treated as absent features (zero) — intersection only
    * covers the common prefix. Null if either side is null. */
  case class BitmapAndCount(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = LongType

    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
      def ok(t: DataType) =
        t == ArrayType(LongType, false) || t == ArrayType(LongType, true)
      if (ok(left.dataType) && ok(right.dataType))
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      else
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"bitmap_and_count needs array<bigint>, got " +
            s"${left.dataType} / ${right.dataType}")
    }

    override def nullable: Boolean =
      left.nullable || right.nullable

    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val n = math.min(x.numElements(), y.numElements())
      var acc = 0L
      var i = 0
      while (i < n) {
        acc += java.lang.Long.bitCount(x.getLong(i) & y.getLong(i))
        i += 1
      }
      acc
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val i = ctx.freshName("i")
        val n = ctx.freshName("n")
        val acc = ctx.freshName("acc")
        s"""
           |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
           |long $acc = 0L;
           |for (int $i = 0; $i < $n; $i++) {
           |  $acc += java.lang.Long.bitCount($a.getLong($i) & $b.getLong($i));
           |}
           |${ev.value} = $acc;
         """.stripMargin
      })

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** Column API: |A ∩ B| of two bitmap columns (array<bigint>). */
  def bitmap_and_count(a: Column, b: Column): Column =
    Bridge.toColumn(
      BitmapAndCount(Bridge.toExpression(a), Bridge.toExpression(b)))

  /** Whole-array bitmap builder, called once per row from generated code
    * (same rationale as NgramUtil: the composed transform/filter/
    * aggregate form interprets its lambdas per element per word). */
  def fromBits(bits: ArrayData, nWords: Int): ArrayData = {
    val words = new Array[Long](nWords)
    val n = bits.numElements()
    var i = 0
    while (i < n) {
      val b = bits.getInt(i)
      if (b < 0 || b >= nWords * 64)
        throw new IllegalArgumentException(
          s"bit $b out of range for $nWords-word bitmap")
      words(b >> 6) |= 1L << (b & 63)
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(words)
  }

  /** Bitmap (array<bigint> of `nWords` words) from an array<int> of set
    * bit positions. Throws on out-of-range bits — a wrong nWords is a
    * planner bug, not data to ignore. */
  case class BitmapFromBits(child: Expression, nWords: Int)
      extends UnaryExpression {
    require(nWords > 0, "nWords must be positive")

    override def dataType: DataType = ArrayType(LongType, containsNull = false)

    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      child.dataType match {
        case ArrayType(IntegerType, _) =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case other =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
            s"bitmap_from_bits needs array<int>, got $other")
      }

    override def nullSafeEval(bits: Any): Any =
      fromBits(bits.asInstanceOf[ArrayData], nWords)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev,
        c => s"graft.functions.BitmapExpressions.fromBits($c, $nWords)")

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Column API: pack an array<int> of bit positions into a bitmap. */
  def bitmap_from_bits(bits: Column, nWords: Int): Column =
    Bridge.toColumn(BitmapFromBits(Bridge.toExpression(bits), nWords))
}
