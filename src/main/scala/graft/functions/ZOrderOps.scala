package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Z-order (Morton) curve value for two integer keys — the data-layout
  * primitive behind multi-dimensional clustering (see
  * [[graft.operators.Layout]]).
  *
  * Interleaves the low 32 bits of the two keys bit-by-bit
  * (`a₃₁ b₃₁ a₃₀ b₃₀ …`), so rows close in BOTH key dimensions land close
  * on the 1-D curve. Sorting a table by this value clusters every
  * dimension at once, which is what makes parquet row-group min/max
  * pruning effective for 2-D range predicates — a single-column sort
  * clusters only its own column and leaves the other dimension's
  * min/max spanning the whole domain (measured: BASELINE.md r12).
  *
  * The bit spread is the classic mask-shift cascade (public-domain
  * bit-twiddling; cf. the "Interleave bits by Binary Magic Numbers"
  * construction), emitted inline by `doGenCode` so layout writes stay
  * inside WholeStageCodegen.
  */
case class ZValue(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(e => e.dataType match {
      case LongType | IntegerType => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"z_value expects integral keys, got ${left.dataType} / ${right.dataType}")
  }

  override def dataType: DataType = LongType

  private def asLong(v: Any): Long = v match {
    case l: Long => l
    case i: Int  => i.toLong
  }

  override def nullSafeEval(l: Any, r: Any): Any =
    ZOrderOps.interleave(asLong(l), asLong(r))

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val sa = ctx.freshName("sa")
      val sb = ctx.freshName("sb")
      // same cascade as ZOrderOps.spread, inlined for codegen
      def spread(in: String, out: String): String =
        s"""
           |long $out = ((long) $in) & 0xffffffffL;
           |$out = ($out | ($out << 16)) & 0x0000ffff0000ffffL;
           |$out = ($out | ($out << 8))  & 0x00ff00ff00ff00ffL;
           |$out = ($out | ($out << 4))  & 0x0f0f0f0f0f0f0f0fL;
           |$out = ($out | ($out << 2))  & 0x3333333333333333L;
           |$out = ($out | ($out << 1))  & 0x5555555555555555L;
         """.stripMargin
      s"""
         |${spread(a, sa)}
         |${spread(b, sb)}
         |${ev.value} = ($sa << 1) | $sb;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object ZOrderOps {
  /** Spread the low 32 bits of `x` into the even bit positions. */
  def spread(x0: Long): Long = {
    var x = x0 & 0xffffffffL
    x = (x | (x << 16)) & 0x0000ffff0000ffffL
    x = (x | (x << 8))  & 0x00ff00ff00ff00ffL
    x = (x | (x << 4))  & 0x0f0f0f0f0f0f0f0fL
    x = (x | (x << 2))  & 0x3333333333333333L
    x = (x | (x << 1))  & 0x5555555555555555L
    x
  }

  /** Morton interleave of the low 32 bits of `a` (odd positions) and
    * `b` (even positions). */
  def interleave(a: Long, b: Long): Long = (spread(a) << 1) | spread(b)

  /** Hilbert distance of cell (x, y) on the 2^order x 2^order grid —
    * the classic iterative quadrant-rotation walk (public-domain
    * construction; cf. the Wikipedia "Hilbert curve" xy2d routine). */
  def hilbertD(order: Int, x0: Long, y0: Long): Long = {
    var x = x0; var y = y0; var d = 0L
    var s = 1L << (order - 1)
    while (s > 0) {
      val rx = if ((x & s) > 0) 1L else 0L
      val ry = if ((y & s) > 0) 1L else 0L
      d += s * s * ((3L * rx) ^ ry)
      if (ry == 0) {
        if (rx == 1) { x = s - 1 - x; y = s - 1 - y }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d
  }

  /** Column-API entry point. */
  def zvalue(a: Column, b: Column): Column =
    ColumnBridge.column(
      ZValue(ColumnBridge.expression(a), ColumnBridge.expression(b)))
}

/** HILBERT curve value for two integer keys — [[ZValue]]'s
  * better-locality sibling ([[graft.operators.Layout]] writes both).
  * The Morton curve's bit interleave is cheap but takes long diagonal
  * jumps at power-of-two boundaries, so a curve segment (= a row group)
  * can cover two far-apart half-squares; the Hilbert curve visits
  * every cell of each quadrant before leaving it (consecutive d values
  * are ALWAYS grid neighbors — pinned in LayoutSpec), which tightens
  * per-row-group min/max boxes and prunes more groups for the same 2-D
  * band (measured: BASELINE.md r12). Classic iterative xy→d with
  * quadrant rotations, `order` fixed levels, emitted as a plain loop by
  * `doGenCode` so layout writes stay in WholeStageCodegen. */
case class HilbertValue(left: Expression, right: Expression, order: Int)
    extends BinaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(e => e.dataType match {
      case LongType | IntegerType => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"hilbert_value expects integral keys, got ${left.dataType} / ${right.dataType}")
  }

  override def dataType: DataType = LongType

  private def asLong(v: Any): Long = v match {
    case l: Long => l
    case i: Int  => i.toLong
  }

  override def nullSafeEval(l: Any, r: Any): Any =
    ZOrderOps.hilbertD(order, asLong(l), asLong(r))

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val x = ctx.freshName("hx"); val y = ctx.freshName("hy")
      val d = ctx.freshName("hd"); val sVar = ctx.freshName("hs")
      val rx = ctx.freshName("hrx"); val ry = ctx.freshName("hry")
      val t = ctx.freshName("ht")
      s"""
         |long $x = $a; long $y = $b; long $d = 0L;
         |for (long $sVar = 1L << ${order - 1}; $sVar > 0; $sVar >>= 1) {
         |  long $rx = (($x & $sVar) > 0) ? 1L : 0L;
         |  long $ry = (($y & $sVar) > 0) ? 1L : 0L;
         |  $d += $sVar * $sVar * ((3L * $rx) ^ $ry);
         |  if ($ry == 0) {
         |    if ($rx == 1) { $x = $sVar - 1 - $x; $y = $sVar - 1 - $y; }
         |    long $t = $x; $x = $y; $y = $t;
         |  }
         |}
         |${ev.value} = $d;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object HilbertOps {
  /** Column-API entry point; keys must lie in [0, 2^order). */
  def hvalue(a: Column, b: Column, order: Int = 16): Column =
    ColumnBridge.column(
      HilbertValue(ColumnBridge.expression(a), ColumnBridge.expression(b), order))
}
