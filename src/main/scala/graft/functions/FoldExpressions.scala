package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native codegen'd fold expressions — the hot-path replacements for
  * interpreted higher-order-function folds over arrays.
  *
  * Spark's `aggregate`/`transform` HOFs evaluate their lambda per element
  * through the interpreted expression tree (they are not whole-stage
  * codegen'd), which made the 256-element EMA folds and 21-element
  * autocorrelation the dominant cost of the feature pipeline (profiled:
  * ~8s of 10s at sf0.1). These expressions emit a tight Java loop over
  * `ArrayData` instead — identical IEEE-754 operations in identical
  * left-to-right order, so results are bit-identical to the HOF versions
  * (kept in the tests' `graft.ops.Folds` as the parity reference,
  * FoldParitySpec) and to the DuckDB oracle's list_reduce.
  *
  * Registered as SQL functions (`graft_ema`, `graft_autocorr1`,
  * `graft_dotf`) via `graft.GraftSession.prepare` /
  * `GraftExtensions` (SparkSessionExtensions).
  *
  * Arrays are assumed null-free (ours come from collect_list / parquet
  * float vectors).
  */

/** graft_ema(xs array<double>, period int): seed-first EMA fold,
  * `ema = x_1; ema = ema*(1-k) + x_i*k`, k = 2/(period+1). Null on null
  * input or empty array.
  */
case class EmaFold(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_ema"
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), IntegerType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_ema expects (array<double>, int), got (${left.dataType}, ${right.dataType})")
    }
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val arr = left.eval(input)
    val p = right.eval(input)
    if (arr == null || p == null) return null
    val a = arr.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n == 0) return null
    val k = 2.0 / (p.asInstanceOf[Int].toDouble + 1.0)
    val omk = 1.0 - k
    var acc = a.getDouble(0)
    var i = 1
    while (i < n) { acc = acc * omk + a.getDouble(i) * k; i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val l = left.genCode(ctx)
    val r = right.genCode(ctx)
    val a = ctx.freshName("arr")
    val n = ctx.freshName("n")
    val k = ctx.freshName("k")
    val acc = ctx.freshName("acc")
    val i = ctx.freshName("i")
    ev.copy(code = code"""
      ${l.code}
      ${r.code}
      boolean ${ev.isNull} = true;
      double ${ev.value} = 0.0;
      if (!${l.isNull} && !${r.isNull}) {
        org.apache.spark.sql.catalyst.util.ArrayData $a = ${l.value};
        int $n = $a.numElements();
        if ($n > 0) {
          double $k = 2.0 / ((double)${r.value} + 1.0);
          double $acc = $a.getDouble(0);
          for (int $i = 1; $i < $n; $i++) {
            $acc = $acc * (1.0 - $k) + $a.getDouble($i) * $k;
          }
          ${ev.isNull} = false;
          ${ev.value} = $acc;
        }
      }""")
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** graft_autocorr1(xs array<double>, tol double): lag-1 Pearson-style
  * autocorrelation with the reference guards (Common.cs:29-60): 0.0 when
  * n <= 1 or |den| < tol. The interpreted path is `FeatureKernel.autocorr1`;
  * the generated loop spells out the same operations in the same order.
  */
case class AutocorrLag1(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_autocorr1"
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), DoubleType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_autocorr1 expects (array<double>, double), got (${left.dataType}, ${right.dataType})")
    }
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val arr = left.eval(input)
    val t = right.eval(input)
    if (arr == null || t == null) return null
    val a = arr.asInstanceOf[ArrayData].toDoubleArray()
    FeatureKernel.autocorr1(a, 0, a.length, t.asInstanceOf[Double])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val l = left.genCode(ctx)
    val r = right.genCode(ctx)
    val a = ctx.freshName("arr")
    val n = ctx.freshName("n")
    val s = ctx.freshName("s")
    val mu = ctx.freshName("mu")
    val num = ctx.freshName("num")
    val den = ctx.freshName("den")
    val d = ctx.freshName("d")
    val i = ctx.freshName("i")
    ev.copy(code = code"""
      ${l.code}
      ${r.code}
      boolean ${ev.isNull} = true;
      double ${ev.value} = 0.0;
      if (!${l.isNull} && !${r.isNull}) {
        org.apache.spark.sql.catalyst.util.ArrayData $a = ${l.value};
        int $n = $a.numElements();
        ${ev.isNull} = false;
        if ($n > 1) {
          double $s = 0.0;
          for (int $i = 0; $i < $n; $i++) { $s = $s + $a.getDouble($i); }
          double $mu = $s / $n;
          double $num = 0.0;
          for (int $i = 1; $i < $n; $i++) {
            $num = $num + ($a.getDouble($i) - $mu) * ($a.getDouble($i - 1) - $mu);
          }
          double $den = 0.0;
          for (int $i = 0; $i < $n; $i++) {
            double $d = $a.getDouble($i) - $mu;
            $den = $den + $d * $d;
          }
          ${ev.value} = java.lang.Math.abs($den) < ${r.value} ? 0.0 : $num / $den;
        }
      }""")
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** graft_dotf(a array<float|double>, b array<float|double>):
  * order-deterministic dot product with per-element widening to double —
  * mirrors VectorOps.dot's fold exactly. float→double widening is exact,
  * so accepting double arrays (e.g. a trained IVF codebook) adds no new
  * FP behavior. Length = min(len(a), len(b)) (inputs are fixed-width
  * embedding vectors).
  */
case class DotF(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_dotf"

  private def elemOk(t: DataType): Boolean = t match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }
  private def isFloat(t: DataType): Boolean =
    t.asInstanceOf[ArrayType].elementType == FloatType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (elemOk(left.dataType) && elemOk(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_dotf expects (array<float|double>, array<float|double>), got (${left.dataType}, ${right.dataType})")
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val xa = left.eval(input)
    val xb = right.eval(input)
    if (xa == null || xb == null) return null
    val a = xa.asInstanceOf[ArrayData]
    val b = xb.asInstanceOf[ArrayData]
    val af = isFloat(left.dataType)
    val bf = isFloat(right.dataType)
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      val x = if (af) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bf) b.getFloat(i).toDouble else b.getDouble(i)
      s = s + x * y
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val l = left.genCode(ctx)
    val r = right.genCode(ctx)
    val a = ctx.freshName("a")
    val b = ctx.freshName("b")
    val n = ctx.freshName("n")
    val s = ctx.freshName("s")
    val i = ctx.freshName("i")
    def get(v: String, fl: Boolean): String =
      if (fl) s"(double)$v.getFloat($i)" else s"$v.getDouble($i)"
    val ax = get(a, isFloat(left.dataType))
    val bx = get(b, isFloat(right.dataType))
    ev.copy(code = code"""
      ${l.code}
      ${r.code}
      boolean ${ev.isNull} = true;
      double ${ev.value} = 0.0;
      if (!${l.isNull} && !${r.isNull}) {
        org.apache.spark.sql.catalyst.util.ArrayData $a = ${l.value};
        org.apache.spark.sql.catalyst.util.ArrayData $b = ${r.value};
        int $n = java.lang.Math.min($a.numElements(), $b.numElements());
        double $s = 0.0;
        for (int $i = 0; $i < $n; $i++) {
          $s = $s + $ax * $bx;
        }
        ${ev.isNull} = false;
        ${ev.value} = $s;
      }""")
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
