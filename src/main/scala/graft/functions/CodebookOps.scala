package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** All-centroids cosine in ONE codegen'd expression.
  *
  * Every IVF-family coarse assignment used to spell "dots against the
  * trained codebook" as `array(dot(v, lit(c0))/nrm, …, dot(v, lit(ck))/nrm)`
  * — k independent expression trees, each with its own boxed array
  * literal. At k = nlist that generated code grows ∝ k (JIT gives up past
  * the method-size limit, and every literal element access unboxes), so
  * the assignment pass cost scaled with GENERATED CODE SIZE, not flops:
  * the r14 IVF cost-model sweep measured fresh builds 0.7 → 11.0 s from
  * nlist 32 → 128 on n=20k where the flop count only doubles
  * (re-measured 10.4 s at nlist=128 pre-fix; BASELINE.md r14).
  *
  * This expression holds the codebook as one primitive `double[][]`
  * reference and emits one NESTED LOOP — code size constant in nlist,
  * flops ∝ nlist·dim, boxing zero. The arithmetic is BIT-IDENTICAL to the
  * old spelling: per centroid, the same fold order Σ v_i·c_i (floats
  * widened per element exactly like [[DotProduct]]), then one divide by
  * the norm column — so every trained-codebook operator's output (and
  * every recall gate and oracle hash downstream) is unchanged. A ZERO
  * norm fails loudly (ArithmeticException) REGARDLESS of the session's
  * ANSI setting — matching the ANSI Divide the spelling replaced under
  * spark.sql.ansi.enabled=true (the Spark 4 default), and deliberately
  * DIVERGING from the old spelling's NULL result when ANSI is disabled:
  * a silent NaN/NULL would mis-assign the degenerate row to list 0
  * instead of surfacing the upstream data bug.
  *
  * Input: (vector `array<float|double>`, norm `double`); output
  * `array<double>` of length nlist — the `cd` column every IVF consumer
  * already expects.
  */
case class CodebookDots(left: Expression, right: Expression,
                        codebook: Array[Array[Double]])
    extends BinaryExpression {

  private def elemType: DataType = left.dataType match {
    case ArrayType(et, _) => et
    case other => other
  }

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val okL = left.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (okL && right.dataType == DoubleType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"codebook_dots expects (array<float|double>, double), got " +
        s"${left.dataType} / ${right.dataType}")
  }

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def nullSafeEval(l: Any, r: Any): Any = {
    val v = l.asInstanceOf[ArrayData]
    val nrm = r.asInstanceOf[Double]
    // fail loudly on a zero norm, exactly like the ANSI Divide this
    // expression replaced (sessions here run spark.sql.ansi.enabled's
    // default true, where the old per-centroid dot/nrm spelling threw
    // DIVIDE_BY_ZERO) — a silent NaN would mis-assign the degenerate
    // row to list 0 instead of surfacing the upstream data bug
    if (nrm == 0.0)
      throw new ArithmeticException(
        "codebook_dots: zero vector norm (division by zero)")
    val isFloat = elemType == FloatType
    val k = codebook.length
    val res = new Array[Double](k)
    var c = 0
    while (c < k) {
      val cb = codebook(c)
      val n = math.min(v.numElements(), cb.length)
      var s = 0.0
      var i = 0
      if (isFloat) while (i < n) { s += v.getFloat(i).toDouble * cb(i); i += 1 }
      else while (i < n) { s += v.getDouble(i) * cb(i); i += 1 }
      res(c) = s / nrm
      c += 1
    }
    new GenericArrayData(res)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("codebook", codebook, "double[][]")
    val acc = elemType match {
      case FloatType => (v: String, i: String) => s"(double) $v.getFloat($i)"
      case _ => (v: String, i: String) => s"$v.getDouble($i)"
    }
    nullSafeCodeGen(ctx, ev, (v, nrm) => {
      val cb = ctx.freshName("cb")
      val res = ctx.freshName("res")
      val k = ctx.freshName("k")
      val c = ctx.freshName("c")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      s"""
         |if ($nrm == 0.0) {
         |  throw new ArithmeticException(
         |    "codebook_dots: zero vector norm (division by zero)");
         |}
         |double[][] $cb = $cbRef;
         |int $k = $cb.length;
         |double[] $res = new double[$k];
         |for (int $c = 0; $c < $k; $c++) {
         |  int $n = java.lang.Math.min($v.numElements(), $cb[$c].length);
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $s += ${acc(v, i)} * $cb[$c][$i];
         |  }
         |  $res[$c] = $s / $nrm;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($res);
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object CodebookOps {
  /** Column-API entry point: dots of `v` against every codebook row,
    * each divided by `nrm` — the IVF `cd` column. */
  def codebookDots(v: Column, nrm: Column, cents: Array[Seq[Double]]): Column =
    ColumnBridge.column(CodebookDots(
      ColumnBridge.expression(v), ColumnBridge.expression(nrm),
      cents.map(_.toArray)))
}
